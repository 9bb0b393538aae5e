package graft

/** DuckDB oracle SQL for the extension operator families (text analysis,
  * dedup, similarity search, events). Kept beside — not inside — the Spark
  * implementations so each side is independently readable; the contract is
  * that column names, types, and exact arithmetic match the Spark plan
  * (integer/decimal internals, one final float op on identical operands).
  */
object Oracles {

  /** doc_id → whitespace token list. */
  private val W =
    """w AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws FROM documents)"""

  /** doc_id → distinct word-3-shingles. */
  private val SH =
    """sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM w, UNNEST(range(1, len(ws)-1)) AS t(i) WHERE len(ws) >= 3)""".stripMargin

  /** vec_id → integer-quantized embedding + squared norm. */
  private val QN =
    """q AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, label, qv,
      |  CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q)""".stripMargin

  private def cosine(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1,64), i -> $a.qv[i]*$b.qv[i])) AS BIGINT)
       | / sqrt(CAST($a.nrm AS DOUBLE)) / sqrt(CAST($b.nrm AS DOUBLE))""".stripMargin

  val textTokenStats: String =
    s"""WITH $W,
       |tok AS (SELECT doc_id, t.tok FROM w, UNNEST(ws) AS t(tok))
       |SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       | CAST(sum(length(tok)) AS DOUBLE)/count(*) AS avg_token_len,
       | CAST(count(DISTINCT tok) AS DOUBLE)/count(*) AS type_token_ratio
       |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Linear-idf distinctive terms — the DuckDB twin of
    * TextOps.distinctiveTerms (exact-integer score, no float log). */
  val textDistinctiveTerms: String =
    s"""WITH $W,
       |tok AS (SELECT doc_id, t.tok FROM w, UNNEST(ws) AS t(tok)),
       |tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |r AS (SELECT doc_id, term, tf, df, (tf * 1000000) // df AS score,
       |  row_number() OVER (PARTITION BY doc_id
       |    ORDER BY (tf * 1000000) // df DESC, term ASC) AS rnk
       |  FROM tf JOIN df USING (term))
       |SELECT doc_id, term, tf, df, score, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  val textQuality: String =
    s"""WITH $W,
       |tok AS (SELECT doc_id, lang, t.tok FROM w, UNNEST(ws) AS t(tok)),
       |agg AS (SELECT doc_id, lang, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN tok IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
       |  FROM tok GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_tokens, n_stopwords,
       | CAST(n_stopwords AS DOUBLE)/n_tokens AS stop_ratio,
       | least(CAST(n_tokens AS DOUBLE)/100.0, 1.0) * (1.0 - CAST(n_stopwords AS DOUBLE)/n_tokens) AS quality,
       | CASE WHEN quality >= 0.7 THEN 'high' WHEN quality >= 0.4 THEN 'mid' ELSE 'low' END AS quality_class
       |FROM agg ORDER BY doc_id""".stripMargin

  val textLangId: String =
    s"""WITH $W,
       |tok AS (SELECT doc_id, lang, t.tok FROM w, UNNEST(ws) AS t(tok)),
       |profile AS (SELECT lang AS p_lang, tok AS p_tok, count(*) AS p_cnt FROM tok GROUP BY 1, 2),
       |doctok AS (SELECT doc_id, lang, tok, count(*) AS d_cnt FROM tok GROUP BY 1, 2, 3),
       |scored AS (SELECT doc_id, lang, p_lang, CAST(sum(d_cnt * p_cnt) AS BIGINT) AS score
       |  FROM doctok JOIN profile ON tok = p_tok GROUP BY 1, 2, 3),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang ASC) AS rn
       |  FROM scored)
       |SELECT doc_id, lang, p_lang AS predicted, score,
       | CAST(CASE WHEN lang = p_lang THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  val textBpeTokens: String =
    s"""WITH $W
       |SELECT doc_id,
       | CAST(len(ws) AS BIGINT) AS n_ws_tokens,
       | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subword_tokens,
       | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS DOUBLE) / len(ws) AS subword_ratio
       |FROM w JOIN documents USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Bit-quantized unigram self-information — the DuckDB twin of
    * TextOps.selfInformation. `length(bin(count))` is the exact integer
    * bit length in both engines (no leading zeros, no float log), so
    * every score component is integer-exact; only the final mean is a
    * double. */
  val textSelfInformation: String =
    s"""WITH $W,
       |tok AS (SELECT doc_id, t.tok FROM w, UNNEST(ws) AS t(tok)),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
       |cf AS (SELECT tok, count(*) AS cf FROM tok GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM tok),
       |r AS (SELECT doc_id, tf,
       |  CAST(length(bin(n_total)) - length(bin(cf)) AS BIGINT) AS bits
       |  FROM tf JOIN cf USING (tok), tot)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       | CAST(sum(tf * bits) AS BIGINT) AS sum_rarity_bits,
       | CAST(sum(tf * bits) AS DOUBLE) / sum(tf) AS mean_rarity_bits,
       | CASE WHEN sum(tf * bits) >= 2 * sum(tf) THEN 'rare'
       |      WHEN sum(tf * bits) >= sum(tf) THEN 'mixed'
       |      ELSE 'common' END AS rarity_class
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Zipf head coverage — the DuckDB twin of TextOps.vocabCoverage
    * (top-K tokens with K = TextOps.VocabCoverageK, exact integer ppm,
    * lexicographic ties). */
  val textVocabCoverage: String =
    s"""WITH $W,
       |tok AS (SELECT t.tok FROM w, UNNEST(ws) AS t(tok)),
       |cf AS (SELECT tok, count(*) AS cf FROM tok GROUP BY 1),
       |tot AS (SELECT count(*) AS n_total FROM tok),
       |r AS (SELECT tok, cf,
       |  CAST(row_number() OVER (ORDER BY cf DESC, tok ASC) AS BIGINT) AS rnk
       |  FROM cf),
       |h AS (SELECT rnk, tok, cf,
       |  CAST(sum(cf) OVER (ORDER BY rnk) AS BIGINT) AS cum_cf
       |  FROM r WHERE rnk <= ${graft.operators.TextOps.VocabCoverageK})
       |SELECT rnk, tok AS term, cf, cum_cf,
       | CAST((CAST(cum_cf AS HUGEINT) * 1000000) // n_total AS BIGINT) AS coverage_ppm
       |FROM h, tot ORDER BY rnk""".stripMargin

  val textFingerprint: String =
    s"""WITH $W,
       |nrm AS (SELECT doc_id, array_to_string(ws, ' ') AS norm FROM w)
       |SELECT doc_id, md5(norm) AS fp_md5,
       | (('0x' || substr(md5(norm), 1, 15))::BIGINT) AS fp_long
       |FROM nrm ORDER BY doc_id""".stripMargin

  val dedupExact: String =
    s"""WITH $W,
       |nrm AS (SELECT doc_id, md5(array_to_string(ws, ' ')) AS fp FROM w)
       |SELECT doc_id, fp AS fp_md5,
       | min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       | CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
       |FROM nrm ORDER BY doc_id""".stripMargin

  /** Exact shingle-Jaccard pairs — the oracle for MinHash+LSH (whose
    * verified output must recover exactly this relation). */
  val dedupJaccardPairs: String =
    s"""WITH $W,
       |$SH,
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |i AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(inter AS DOUBLE)/(ca.n_sh + cb.n_sh - inter) AS jaccard
       |FROM i JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** Shingles surviving the df <= maxDf hot-shingle cap — the truncated
    * shingle universe DedupOps.ngramJaccard scores over ((doc_id, sh) is
    * unique in SH, so count(*) per sh is exactly the document frequency). */
  private def shCapped(maxDf: Int): String =
    s"""shp AS (SELECT doc_id, sh FROM sh
       |  JOIN (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $maxDf) keep USING (sh))""".stripMargin

  /** Df-capped shingle-Jaccard pairs — the oracle for the inverted-index
    * ngram detector, mirroring its maxDf=64 hot-shingle exclusion from
    * both the index and the per-doc set sizes. */
  val dedupJaccardPairsCapped: String =
    s"""WITH $W,
       |$SH,
       |${shCapped(64)},
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shp GROUP BY doc_id),
       |i AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM shp x JOIN shp y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, CAST(inter AS DOUBLE)/(ca.n_sh + cb.n_sh - inter) AS jaccard
       |FROM i JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  val dedupSimhash: String = {
    val bitSums = (0 until 60)
      .map(j => s"sum(((h >> $j) & 1)*2 - 1) AS b$j").mkString(",\n  ")
    val bitExpr = (0 until 60)
      .map(j => s"CASE WHEN b$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH $W,
       |$SH,
       |h AS (SELECT doc_id, (('0x' || substr(md5(sh), 1, 15))::BIGINT) AS h FROM sh),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |  FROM h GROUP BY doc_id),
       |simh AS (SELECT doc_id, ($bitExpr) AS simhash FROM bits),
       |ch AS (SELECT doc_id, simhash, c, (simhash >> (15*c)) & 32767 AS ck
       |  FROM simh, UNNEST([0,1,2,3]) AS t(c)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.simhash AS ha, y.simhash AS hb
       |  FROM ch x JOIN ch y ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 6 ORDER BY doc_a, doc_b""".stripMargin
  }

  val dedupEmbedding: String =
    s"""WITH $QN
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       | ${cosine("a", "b")} AS cosine
       |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE cosine >= 0.35 ORDER BY vec_a, vec_b""".stripMargin

  /** Unrolled deterministic Lloyd's (2 rounds) over `n` (from QN) — the
    * exact replay of operators.KMeans.fit(iters = 2, nlist = ⌊√count⌋):
    * nl computes the √n list count (KMeans.autoNlist's twin — both are
    * IEEE sqrt of an exact integer, truncated); k0 = seed vectors
    * 10..10+nlist as centroids; per round t, a{t} = max-cosine assignment
    * against k{t-1} (ties to the smaller cl) and k{t} = component-wise
    * truncated integer means of a{t} (`//` and Spark's `div` both
    * truncate toward zero). Exposes a2 (final assignment) and k2 (its
    * centroids); all-zero centroids drop out on both engines. */
  private val KM: String = {
    def asgCte(t: Int) =
      s"""a${t}0 AS (SELECT v.vec_id, k.cl,
         |  CAST(list_sum(list_transform(generate_series(1,64), i -> v.qv[i]*k.cv[i])) AS BIGINT)
         |    / sqrt(CAST(v.nrm AS DOUBLE)) / sqrt(CAST(k.cnrm AS DOUBLE)) AS scos
         |  FROM n v, k${t - 1} k),
         |a$t AS (SELECT vec_id, cl FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY scos DESC, cl ASC) AS rn
         |  FROM a${t}0) t WHERE rn = 1)""".stripMargin
    def centCte(t: Int) =
      s"""g$t AS (SELECT cl, i, CAST(sum(qv[i]) AS BIGINT) // count(*) AS c
         |  FROM a$t JOIN n USING (vec_id), UNNEST(range(1, 65)) AS u(i) GROUP BY cl, i),
         |k$t AS (SELECT * FROM (SELECT cl, list(c ORDER BY i) AS cv,
         |  CAST(list_sum(list_transform(list(c ORDER BY i), x -> x*x)) AS BIGINT) AS cnrm
         |  FROM g$t GROUP BY cl) WHERE cnrm > 0)""".stripMargin
    val init =
      """nl AS (SELECT GREATEST(1, CAST(floor(sqrt(count(*))) AS BIGINT)) AS nlist FROM n),
        |k0 AS (SELECT vec_id AS cl, qv AS cv, nrm AS cnrm FROM n
        |  WHERE vec_id >= 10 AND vec_id < 10 + (SELECT nlist FROM nl))""".stripMargin
    (Seq(init) ++ (1 to 2).flatMap(t => Seq(asgCte(t), centCte(t)))).mkString(",\n")
  }

  /** Auto-blocked embedding near-dup: the learned k-means assignment
    * (same KM CTEs as simIvfTopK) as the blocking key, same-list pairs
    * only. */
  val dedupEmbeddingAuto: String =
    s"""WITH $QN,
       |$KM,
       |m AS (SELECT n.*, g.cl FROM n JOIN a2 g USING (vec_id))
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cl AS cl,
       | ${cosine("a", "b")} AS cosine
       |FROM m a JOIN m b ON a.cl = b.cl AND a.vec_id < b.vec_id
       |WHERE cosine >= 0.35 ORDER BY vec_a, vec_b""".stripMargin

  val simBruteTopK: String =
    s"""WITH $QN,
       |pairs AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor,
       |  ${cosine("a", "b")} AS cosine
       |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor ASC) AS BIGINT) AS rnk
       |  FROM pairs)
       |SELECT query_id, neighbor, cosine, rnk FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** Multi-table LSH bucket assignment + candidate union + exact-cosine
    * scoring — shared by the LSH top-k and recall oracles. */
  private val LSH_PIPE: String =
    s"""lb AS (SELECT vec_id, qv, nrm, t,
       |  CAST(list_sum(list_transform(generate_series(0,3), h ->
       |    CASE WHEN CAST(list_sum(list_transform(generate_series(1,64),
       |        d -> qv[d] * (((d*131 + h*37 + t*59) % 7) - 3))) AS BIGINT) >= 0
       |      THEN (CAST(1 AS BIGINT) << h) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
       |  FROM n, UNNEST([0,1,2,3]) AS tt(t)),
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b2.vec_id AS neighbor
       |  FROM lb a JOIN lb b2 ON a.t = b2.t AND a.bucket = b2.bucket
       |    AND a.vec_id < 10 AND a.vec_id <> b2.vec_id),
       |lp AS (SELECT query_id, neighbor, ${cosine("a", "b2")} AS cosine
       |  FROM cand JOIN n a ON query_id = a.vec_id JOIN n b2 ON neighbor = b2.vec_id),
       |lr AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor ASC) AS BIGINT) AS rnk
       |  FROM lp)""".stripMargin

  val simLshTopK: String =
    s"""WITH $QN,
       |$LSH_PIPE
       |SELECT query_id, neighbor, cosine, rnk FROM lr WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** IVF probe pipe (expects the KM CTEs upstream): nprobe =
    * max(3, ⌈√nlist⌉) max-cosine lists per query
    * (SimilarityOps.autoNprobe's twin), exact cosine within them,
    * ranked in `ir`. Shared by simIvfTopK and simIvfRecall — the
    * recall arm must score the SAME index it searches. */
  private val IVF_PIPE: String =
    s"""probe AS (SELECT a.vec_id AS query_id, k.cl AS probe_cl,
       |  CAST(list_sum(list_transform(generate_series(1,64), i -> a.qv[i]*k.cv[i])) AS BIGINT)
       |    / sqrt(CAST(a.nrm AS DOUBLE)) / sqrt(CAST(k.cnrm AS DOUBLE)) AS pcos
       |  FROM n a, k2 k WHERE a.vec_id < 10),
       |sel AS (SELECT query_id, probe_cl FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, probe_cl ASC) AS prnk
       |  FROM probe) t WHERE prnk <= (SELECT GREATEST(3, CAST(ceil(sqrt(nlist)) AS BIGINT)) FROM nl)),
       |ipairs AS (SELECT s.query_id, b.vec_id AS neighbor, ${cosine("a", "b")} AS cosine
       |  FROM sel s JOIN a2 g ON g.cl = s.probe_cl
       |  JOIN n b ON b.vec_id = g.vec_id AND b.vec_id <> s.query_id
       |  JOIN n a ON a.vec_id = s.query_id),
       |ir AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor ASC) AS BIGINT) AS rnk
       |  FROM ipairs)""".stripMargin

  /** IVF-style probe: k-means inverted lists (KM CTEs — learned
    * centroids, truncated integer means) + the shared probe pipe. */
  val simIvfTopK: String =
    s"""WITH $QN,
       |$KM,
       |$IVF_PIPE
       |SELECT query_id, neighbor, cosine, rnk FROM ir WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** IVF recall vs exact brute force — the DuckDB twin of
    * SimilarityOps.ivfRecall (same KM training replay, same probe
    * pipe, same brute-force ground truth as simLshRecall). */
  val simIvfRecall: String =
    s"""WITH $QN,
       |$KM,
       |$IVF_PIPE,
       |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor,
       |  ${cosine("a", "b")} AS cosine
       |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
       |br AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor ASC) AS rnk FROM bp),
       |bt AS (SELECT query_id, neighbor FROM br WHERE rnk <= 5),
       |it AS (SELECT query_id, neighbor FROM ir WHERE rnk <= 5)
       |SELECT bt.query_id, count(*) AS k,
       | CAST(sum(CASE WHEN it.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       | CAST(sum(CASE WHEN it.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS recall
       |FROM bt LEFT JOIN it ON bt.query_id = it.query_id AND bt.neighbor = it.neighbor
       |GROUP BY bt.query_id ORDER BY bt.query_id""".stripMargin

  val simLshRecall: String =
    s"""WITH $QN,
       |bp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor,
       |  ${cosine("a", "b")} AS cosine
       |  FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
       |br AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor ASC) AS rnk FROM bp),
       |bt AS (SELECT query_id, neighbor FROM br WHERE rnk <= 5),
       |$LSH_PIPE,
       |lt AS (SELECT query_id, neighbor FROM lr WHERE rnk <= 5)
       |SELECT bt.query_id, count(*) AS k,
       | CAST(sum(CASE WHEN lt.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       | CAST(sum(CASE WHEN lt.neighbor IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)/count(*) AS recall
       |FROM bt LEFT JOIN lt ON bt.query_id = lt.query_id AND bt.neighbor = lt.neighbor
       |GROUP BY bt.query_id ORDER BY bt.query_id""".stripMargin

  // (the 1-probe KNN_PIPE and its simKnnGraph/simKnnRecall twins were
  // deleted in r14 when the 1-probe build left the suite — the 2-probe
  // pipe below is the surviving Voronoi calibration twin)

  /** 2-probe pipeline: every vector's top-2 centroid lists under the
    * FINAL trained centroids k2 (rn <= 2 replays assignTop2's two-pass
    * argmax — same (scos DESC, cl ASC) tie rule), DISTINCT same-list
    * pairs (a pair sharing both lists scores once), then the
    * mutual-top-3 tail. */
  private val KNN2_PIPE: String =
    s"""$KM,
       |p30 AS (SELECT v.vec_id, k.cl,
       |  CAST(list_sum(list_transform(generate_series(1,64), i -> v.qv[i]*k.cv[i])) AS BIGINT)
       |    / sqrt(CAST(v.nrm AS DOUBLE)) / sqrt(CAST(k.cnrm AS DOUBLE)) AS scos
       |  FROM n v, k2 k),
       |pp AS (SELECT vec_id, cl FROM (
       |  SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY scos DESC, cl ASC) AS rn
       |  FROM p30) t WHERE rn <= 2),
       |m2 AS (SELECT n.*, pp.cl FROM n JOIN pp USING (vec_id)),
       |cp2 AS (SELECT 4 * (((SELECT count(*) FROM n) + (SELECT nlist FROM nl) - 1)
       |    // (SELECT nlist FROM nl)) AS cap),
       |ms2 AS (SELECT cl, count(*) AS m FROM m2 GROUP BY cl),
       |mb2 AS (SELECT m2.*,
       |  CASE WHEN (ms2.m + (SELECT cap FROM cp2) - 1) // (SELECT cap FROM cp2) >= 1048576
       |    THEN CAST(error('capSplit: nsplit >= 2^20 overflows the packed block key') AS BIGINT)
       |    ELSE (ms2.m + (SELECT cap FROM cp2) - 1) // (SELECT cap FROM cp2) END AS nsplit
       |  FROM m2 JOIN ms2 USING (cl)),
       |sc2 AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb, ${cosine("x", "y")} AS cosine
       |  FROM mb2 x JOIN mb2 y ON x.cl = y.cl
       |    AND x.vec_id % x.nsplit = y.vec_id % y.nsplit
       |    AND x.vec_id < y.vec_id),
       |d2 AS (SELECT ida AS src, idb AS dst, cosine FROM sc2
       |  UNION ALL SELECT idb, ida, cosine FROM sc2),
       |tk2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY src
       |    ORDER BY cosine DESC, dst ASC) AS BIGINT) AS rnk
       |  FROM d2),
       |mk2 AS (SELECT f.src AS ida, f.dst AS idb, f.cosine AS cosine,
       |  f.rnk AS rnk_a, r.rnk AS rnk_b
       |  FROM tk2 f JOIN tk2 r ON f.src = r.dst AND f.dst = r.src
       |  WHERE f.rnk <= 3 AND r.rnk <= 3 AND f.src < f.dst)""".stripMargin

  /** 2-probe mutual k-NN graph — the DuckDB twin of
    * SimilarityOps.knnGraph2. */
  val simKnnGraph2: String =
    s"""WITH $QN,
       |$KNN2_PIPE
       |SELECT ida, idb, cosine, rnk_a, rnk_b FROM mk2
       |ORDER BY ida, idb""".stripMargin

  /** Blocked-graph recall vs exact mutual k-NN ground truth over the
    * 2-probe graph — the DuckDB twin of SimilarityOps.knnRecall2. The
    * oracle can afford the full all-pairs directed ranking at
    * verification scale; restricted to query-incident edges it is
    * exactly the Spark side's two linear broadcast passes (global ranks
    * both ways). */
  val simKnnRecall2: String = knnRecallSql(KNN2_PIPE, "mk2")

  /** Bit-signature graph pipe — the DuckDB twin of
    * SimilarityOps.knnGraphBits: b = min plane count with 2^b ≥ ⌈n/64⌉
    * (integer argmin over range(1,41) — no floating log2 to agree on),
    * 4 tables of b sign bits under the two-stage-mod plane weights
    * (SimilarityOps.bitPlaneWeight's formula verbatim), cl = t·2^b +
    * bucket, the same cap-split skew guard with the CONSTANT cap
    * 256 = CapFactor·BitsTargetList, DISTINCT same-block pairs, and the
    * shared mutual-top-3 tail. */
  /** The bit-signature candidate stage (…, scb) parameterized over the
    * seed dials — instantiated at the SHIPPED constants (4 tables,
    * target list 64, cap 4·64) for the bits graph itself, and at the
    * refined graph's own seed constants (SimilarityOps.DescentSeed*)
    * for KNNR_PIPE: the sf10 sweep showed the descent's at-scale recall
    * is seed-bound, so the two families' seeds are dialed
    * independently. */
  private def knnbCandidates(tables: Int, target: Long): String = {
    // coalesce(min(b), 40) mirrors the Scala autoPlanes clamp at b = 40:
    // without it, an n/target ratio beyond 2^40 yields NULL planes and a
    // silently empty candidate set where the engine clamps (r13 advice)
    val cap = 4 * target
    val tlist = (0 until tables).mkString(",")
    s"""nbb AS (SELECT count(*) AS n FROM n),
       |bpb AS (SELECT coalesce(min(b), 40) AS b FROM range(1, 41) tb(b)
       |  WHERE (CAST(1 AS BIGINT) << b) >= (SELECT (n + ${target - 1}) // $target FROM nbb)),
       |lbb AS (SELECT vec_id, t,
       |  CAST(list_sum(list_transform(generate_series(0, (SELECT b FROM bpb) - 1), h ->
       |    CASE WHEN CAST(list_sum(list_transform(generate_series(1,64), d ->
       |      qv[d] * ((((d*131 + (t*64+h)*37 + d*(t*64+h)*59 + d*d*(t*64+h)*17) % 1009) % 7) - 3))) AS BIGINT) >= 0
       |    THEN (CAST(1 AS BIGINT) << h) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
       |  FROM n, UNNEST([$tlist]) AS tt(t)),
       |mbt AS (SELECT n.*, CAST(t AS BIGINT) * (CAST(1 AS BIGINT) << (SELECT b FROM bpb)) + bucket AS cl
       |  FROM n JOIN lbb USING (vec_id)),
       |msb AS (SELECT cl, count(*) AS m FROM mbt GROUP BY cl),
       |mbb AS (SELECT mbt.*,
       |  CASE WHEN (msb.m + ${cap - 1}) // $cap >= 1048576
       |    THEN CAST(error('capSplit: nsplit >= 2^20 overflows the packed block key') AS BIGINT)
       |    ELSE (msb.m + ${cap - 1}) // $cap END AS nsplit
       |  FROM mbt JOIN msb USING (cl)),
       |scb AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb, ${cosine("x", "y")} AS cosine
       |  FROM mbb x JOIN mbb y ON x.cl = y.cl
       |    AND x.vec_id % x.nsplit = y.vec_id % y.nsplit
       |    AND x.vec_id < y.vec_id)""".stripMargin
  }

  private val KNNB_PIPE: String =
    s"""${knnbCandidates(4, 64L)},
       |dbb AS (SELECT ida AS src, idb AS dst, cosine FROM scb
       |  UNION ALL SELECT idb, ida, cosine FROM scb),
       |tkb AS (SELECT *, CAST(row_number() OVER (PARTITION BY src
       |    ORDER BY cosine DESC, dst ASC) AS BIGINT) AS rnk
       |  FROM dbb),
       |mkb AS (SELECT f.src AS ida, f.dst AS idb, f.cosine AS cosine,
       |  f.rnk AS rnk_a, r.rnk AS rnk_b
       |  FROM tkb f JOIN tkb r ON f.src = r.dst AND f.dst = r.src
       |  WHERE f.rnk <= 3 AND r.rnk <= 3 AND f.src < f.dst)""".stripMargin

  /** Bit-signature mutual k-NN graph — the DuckDB twin of
    * SimilarityOps.knnGraphBits. */
  val simKnnGraphBits: String =
    s"""WITH $QN,
       |$KNNB_PIPE
       |SELECT ida, idb, cosine, rnk_a, rnk_b FROM mkb
       |ORDER BY ida, idb""".stripMargin

  /** Recall of the bit-signature graph vs the exact mutual ground
    * truth — the DuckDB twin of SimilarityOps.knnRecallBits. */
  val simKnnRecallBits: String = knnRecallSql(KNNB_PIPE, "mkb")

  /** Descent-refined graph pipe — the DuckDB twin of
    * SimilarityOps.knnGraphRefined: seed sd0 = directed top-k'
    * (k' = SimilarityOps.DescentK, interpolated below) over the
    * bit-signature candidates (scb, from KNNB_PIPE), then DescentRounds
    * unrolled NN-Descent rounds. Per round t: u = each node's out-edges
    * plus its top-k' in-edges (cosine DESC, id ASC — the deterministic
    * reverse bound), c = distinct friend-of-a-friend pairs through a
    * shared center plus the current edges, s = exact cosine over c,
    * sd = directed top-k' of s mirrored. Tail = the shared mutual-top-3.
    * The Scala build's new/old cut is output-invisible, so the twin
    * omits it and unrolls the full FoF rounds.
    * MATERIALIZED per round: sd{t-1} is referenced three times and u/c
    * twice — inlining doubles the tree per round (same rationale as
    * TOPC_PIPE). */
  private val KNNR_PIPE: String = {
    val kd = graft.operators.SimilarityOps.DescentK
    val nr = graft.operators.SimilarityOps.DescentRounds
    val ekd = graft.operators.SimilarityOps.DescentEarlyKd
    val er = graft.operators.SimilarityOps.DescentEarlyRounds
    // staged EXPLORATION-width schedule — identical to the Scala kdOf
    // (neighborhood ranks only; the per-round contraction always runs at
    // the full k', matching the build). At the no-op default (ekd = kd)
    // every staged clause below reduces to the unstaged r16 pipe
    // byte-for-byte.
    def kdOf(t: Int): Int = if (t >= 1 && t <= er && ekd < kd) ekd else kd
    def topCte(name: String, src: String, k: Int = kd): String =
      s"""$name AS MATERIALIZED (SELECT src, dst, cosine FROM (
         |  SELECT src, dst, cosine, row_number() OVER (PARTITION BY src
         |    ORDER BY cosine DESC, dst ASC) AS rnk
         |  FROM (SELECT ida AS src, idb AS dst, cosine FROM $src
         |        UNION ALL SELECT idb, ida, cosine FROM $src) d_$name) t_$name
         | WHERE rnk <= $k)""".stripMargin
    def roundCtes(t: Int): String = {
      val p = s"sd${t - 1}"
      val kdt = kdOf(t)
      // a narrow exploration round re-ranks the out side of the (always
      // full-k'-wide) graph, exactly like the Scala outEdges
      val outSel = if (kdt < kd)
        s"""SELECT src AS center, dst AS nbr FROM (
           |    SELECT src, dst, row_number() OVER (PARTITION BY src
           |      ORDER BY cosine DESC, dst ASC) AS ornk FROM $p) o$t
           |  WHERE ornk <= $kdt""".stripMargin
      else s"SELECT src AS center, dst AS nbr FROM $p"
      val uCte =
        s"""u$t AS MATERIALIZED (SELECT DISTINCT center, nbr FROM (
           |  $outSel
           |  UNION ALL
           |  SELECT dst AS center, src AS nbr FROM (
           |    SELECT src, dst, row_number() OVER (PARTITION BY dst
           |      ORDER BY cosine DESC, src ASC) AS irnk FROM $p) i$t
           |  WHERE irnk <= $kdt) uu$t)""".stripMargin
      val pairSrc =
        s"""c$t AS MATERIALIZED (SELECT DISTINCT ida, idb FROM (
           |  SELECT x.nbr AS ida, y.nbr AS idb FROM u$t x JOIN u$t y
           |    ON x.center = y.center AND x.nbr < y.nbr
           |  UNION ALL SELECT LEAST(src, dst), GREATEST(src, dst) FROM $p) cc$t)""".stripMargin
      s"""$uCte,
         |$pairSrc,
         |s$t AS (SELECT ida, idb, ${cosine("a", "b")} AS cosine
         |  FROM c$t JOIN n a ON ida = a.vec_id JOIN n b ON idb = b.vec_id),
         |${topCte(s"sd$t", s"s$t")}""".stripMargin
    }
    val rounds = (1 to nr).map(roundCtes).mkString(",\n")
    s"""${knnbCandidates(graft.operators.SimilarityOps.DescentSeedTables,
           graft.operators.SimilarityOps.DescentSeedTarget)},
       |${topCte("sd0", "scb")},
       |$rounds,
       |fr AS (SELECT DISTINCT LEAST(src, dst) AS ida, GREATEST(src, dst) AS idb, cosine
       |  FROM sd$nr),
       |drr AS (SELECT ida AS src, idb AS dst, cosine FROM fr
       |  UNION ALL SELECT idb, ida, cosine FROM fr),
       |tkr AS (SELECT *, CAST(row_number() OVER (PARTITION BY src
       |    ORDER BY cosine DESC, dst ASC) AS BIGINT) AS rnk
       |  FROM drr),
       |mkr AS (SELECT f.src AS ida, f.dst AS idb, f.cosine AS cosine,
       |  f.rnk AS rnk_a, r.rnk AS rnk_b
       |  FROM tkr f JOIN tkr r ON f.src = r.dst AND f.dst = r.src
       |  WHERE f.rnk <= 3 AND r.rnk <= 3 AND f.src < f.dst)""".stripMargin
  }

  /** Descent-refined mutual k-NN graph — the DuckDB twin of
    * SimilarityOps.knnGraphRefined. */
  val simKnnGraphRefined: String =
    s"""WITH $QN,
       |$KNNR_PIPE
       |SELECT ida, idb, cosine, rnk_a, rnk_b FROM mkr
       |ORDER BY ida, idb""".stripMargin

  /** Recall of the refined graph vs the exact mutual ground truth —
    * the DuckDB twin of SimilarityOps.knnRecallRefined. */
  val simKnnRecallRefined: String = knnRecallSql(KNNR_PIPE, "mkr")

  /** The graph recall gates evaluate 100 queries (vec_id < 100), not
    * the 10 the top-k demos use — SimilarityOps.EvalQueries' twin; 10
    * queries resolved recall in ~7-point increments. */
  private def knnRecallSql(pipe: String, mk: String, nq: Int = 100): String =
    s"""WITH $QN,
       |$pipe,
       |bd AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${cosine("a", "b")} AS cosine
       |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
       |bt AS (SELECT src, dst FROM (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rnk
       |  FROM bd) WHERE rnk <= 3),
       |bm AS (SELECT x.src AS query_id, x.dst AS nbr FROM bt x
       |  JOIN bt y ON x.src = y.dst AND x.dst = y.src WHERE x.src < $nq),
       |h AS (SELECT bm.query_id, bm.nbr,
       |  CASE WHEN $mk.ida IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM bm LEFT JOIN $mk ON $mk.ida = LEAST(bm.query_id, bm.nbr)
       |    AND $mk.idb = GREATEST(bm.query_id, bm.nbr))
       |SELECT q.vec_id AS query_id,
       | count(h.nbr) AS n_true,
       | CAST(coalesce(sum(h.hit), 0) AS BIGINT) AS hits,
       | CAST(CASE WHEN count(h.nbr) = 0 THEN 1.0
       |  ELSE CAST(coalesce(sum(h.hit), 0) AS DOUBLE) / count(h.nbr) END AS DOUBLE) AS recall
       |FROM (SELECT vec_id FROM n WHERE vec_id < $nq) q
       |LEFT JOIN h ON q.vec_id = h.query_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Connected components over the DESCENT-REFINED mutual-kNN edges —
    * the DuckDB twin of SimilarityOps.knnComponentsRefined (same reach
    * CTE as dedupClusters; the suite's sim_knn_components is
    * refined-backed as of r14). The edge CTE is MATERIALIZED: the
    * recursive reach re-references it per iteration, and inlining the
    * whole graph pipeline into every round measured 59 s vs 3 s
    * materialized at sf0.01. */
  val simKnnComponentsRefined: String = componentsSql(KNNR_PIPE, "mkr")

  private def componentsSql(pipe: String, mk: String): String =
    s"""WITH RECURSIVE $QN,
       |$pipe,
       |e AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM $mk
       |  UNION ALL SELECT idb, ida FROM $mk),
       |reach(node, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node)
       |SELECT node AS vec_id, min(label) AS cluster_id
       |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin

  /** Integer PageRank over the DESCENT-REFINED mutual-kNN graph — the
    * DuckDB twin of SimilarityOps.pageRankRefined: the same fixed 10
    * rounds of the ppm recurrence unrolled as chained CTEs, every
    * operation integer floor division on non-negatives. */
  val simPagerankRefined: String = pagerankSql(KNNR_PIPE, "mkr")

  private def pagerankSql(pipe: String, mk: String): String = {
    val rounds = (1 to 10).map { t =>
      s"""r$t AS (SELECT nd.vec_id,
         |  150000 + (850000 * coalesce(s.c, 0)) // 1000000 AS rank_ppm
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS vec_id, sum(p.rank_ppm // dg.deg) AS c
         |    FROM r${t - 1} p JOIN e ON p.vec_id = e.src
         |    JOIN dg ON dg.src = e.src
         |    GROUP BY e.dst) s USING (vec_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $QN,
       |$pipe,
       |e AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM $mk
       |  UNION ALL SELECT idb, ida FROM $mk),
       |dg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |nd AS MATERIALIZED (SELECT vec_id FROM n),
       |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS rank_ppm FROM nd),
       |$rounds
       |SELECT nd.vec_id AS vec_id, CAST(coalesce(dg.deg, 0) AS BIGINT) AS deg,
       | CAST(r10.rank_ppm AS BIGINT) AS rank_ppm
       |FROM nd LEFT JOIN dg ON dg.src = nd.vec_id
       |JOIN r10 ON r10.vec_id = nd.vec_id
       |ORDER BY 1""".stripMargin
  }

  /** Cluster exemplars over the DESCENT-REFINED graph — the DuckDB twin
    * of SimilarityOps.clusterExemplarsRefined: the same mutual-kNN graph
    * feeding both the recursive component reach and the unrolled
    * PageRank rounds; exemplar = top rank per cluster, ties to the
    * smaller id. */
  val simClusterExemplarsRefined: String = exemplarsSql(KNNR_PIPE, "mkr")

  private def exemplarsSql(pipe: String, mk: String): String = {
    val rounds = (1 to 10).map { t =>
      s"""r$t AS (SELECT nd.vec_id,
         |  150000 + (850000 * coalesce(s.c, 0)) // 1000000 AS rank_ppm
         |  FROM nd LEFT JOIN (
         |    SELECT e.dst AS vec_id, sum(p.rank_ppm // dg.deg) AS c
         |    FROM r${t - 1} p JOIN e ON p.vec_id = e.src
         |    JOIN dg ON dg.src = e.src
         |    GROUP BY e.dst) s USING (vec_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $QN,
       |$pipe,
       |e AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM $mk
       |  UNION ALL SELECT idb, ida FROM $mk),
       |dg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |nd AS MATERIALIZED (SELECT vec_id FROM n),
       |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS rank_ppm FROM nd),
       |$rounds,
       |reach(node, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node),
       |comp AS (SELECT node AS vec_id, min(label) AS cluster_id
       |  FROM reach GROUP BY node),
       |j AS (SELECT c.cluster_id, c.vec_id, r10.rank_ppm
       |  FROM comp c JOIN r10 USING (vec_id)),
       |sel AS (SELECT *,
       |  row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY rank_ppm DESC, vec_id ASC) AS rn,
       |  count(*) OVER (PARTITION BY cluster_id) AS nm FROM j)
       |SELECT cluster_id, vec_id AS exemplar_id,
       | CAST(rank_ppm AS BIGINT) AS exemplar_rank_ppm,
       | CAST(nm AS BIGINT) AS n_members
       |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }

  /** Exact per-type value quantiles — the DuckDB twin of
    * EventOps.valueQuantiles (cents quantization, integer
    * cross-multiplied rank selection, one final float division). */
  val evtValueQuantiles: String =
    """WITH c AS (SELECT event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS n
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT event_type, cents,
      |  sum(n) OVER (PARTITION BY event_type ORDER BY cents
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  sum(n) OVER (PARTITION BY event_type) AS total FROM c),
      |q AS (SELECT CAST(unnest([500000, 900000, 990000]) AS BIGINT) AS q_ppm)
      |SELECT event_type, q_ppm, CAST(min(cents) AS DOUBLE) / 100 AS value
      |FROM cum, q WHERE cum * 1000000 >= q_ppm * total
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Hourly volume anomalies per event type — the DuckDB twin of
    * EventOps.anomaly (integer numerator/radicand, one float division +
    * sqrt; integer-inequality flag). */
  val evtAnomaly: String =
    """WITH h AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT event_type, CAST(count(*) AS DECIMAL(38,0)) AS nh,
      |  CAST(sum(n) AS DECIMAL(38,0)) AS s,
      |  CAST(sum(CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0)) AS s2
      |  FROM h GROUP BY 1)
      |SELECT h.event_type, h.hour, h.n,
      | CASE WHEN a.nh*a.s2 - a.s*a.s = 0 THEN 0.0
      |  ELSE CAST(CAST(h.n AS DECIMAL(38,0))*a.nh - a.s AS DOUBLE) / sqrt(CAST(a.nh*a.s2 - a.s*a.s AS DOUBLE)) END AS z,
      | CAST(CASE WHEN (CAST(h.n AS DECIMAL(38,0))*a.nh - a.s)*(CAST(h.n AS DECIMAL(38,0))*a.nh - a.s) > 9*(a.nh*a.s2 - a.s*a.s)
      |  THEN 1 ELSE 0 END AS BIGINT) AS flagged
      |FROM h JOIN a USING (event_type) ORDER BY h.event_type, h.hour""".stripMargin

  /** DAU / trailing-7-day WAU / stickiness — the DuckDB twin of
    * EventOps.stickiness (same ×7 window-end explode). */
  val evtStickiness: String =
    """WITH ud AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
      |w AS (SELECT t.wday, ud.user_id FROM ud, UNNEST(range(ud.day, ud.day + 7)) AS t(wday)),
      |wau AS (SELECT wday, count(DISTINCT user_id) AS wau FROM w GROUP BY 1)
      |SELECT d.day, d.dau, u.wau, CAST(d.dau AS DOUBLE)/u.wau AS stickiness
      |FROM dau d JOIN wau u ON d.day = u.wday ORDER BY d.day""".stripMargin

  /** Event-type transition matrix — the DuckDB twin of
    * EventOps.transitionMatrix (same (ms, event_id) lag ordering). */
  val evtTransitionMatrix: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id FROM events),
      |t AS (SELECT event_type,
      |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_type
      |  FROM e),
      |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
      |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total FROM c GROUP BY 1)
      |SELECT c.prev_type, c.next_type, c.n, r.row_total,
      | CAST(c.n AS DOUBLE) / r.row_total AS p
      |FROM c JOIN r USING (prev_type) ORDER BY c.prev_type, c.next_type""".stripMargin

  val evtSessionize: String =
    """WITH e AS (SELECT *, epoch_ms(ts) AS ms FROM events),
      |s AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
      |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_break FROM s),
      |g AS (SELECT *, CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM f)
      |SELECT user_id, session_idx, min(ms) AS session_start_ms,
      | max(ms) - min(ms) AS duration_ms, count(*) AS n_events,
      | CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value,
      | count(DISTINCT event_type) AS n_event_types
      |FROM g GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin

  val evtHourlyRollup: String =
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
      | count(*) AS n_events, count(DISTINCT user_id) AS n_users,
      | CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val evtRunningTotal: String =
    """WITH e AS (SELECT *, epoch_ms(ts) AS ms FROM events)
      |SELECT user_id, event_id, ms, event_type,
      | CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS VARCHAR) AS DOUBLE) AS running_value,
      | CAST(count(*) OVER w AS BIGINT) AS running_n
      |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ms, event_id""".stripMargin

  val evtPropsProfile: String =
    """WITH e AS (SELECT event_type,
      |  CAST(nullif(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k FROM events)
      |SELECT event_type, count(*) AS n,
      | CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      | min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k,
      | count(DISTINCT k) AS distinct_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  val relPartEnrichment: String =
    """SELECT p_partkey, p_name,
      | CAST(regexp_extract(p_brand, '(\d+)$', 1) AS BIGINT) AS brand_num,
      | CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class,
      | CASE p_type WHEN 'ECONOMY' THEN 'economy line' WHEN 'PROMO' THEN 'promotional'
      |   WHEN 'LARGE' THEN 'large format' WHEN 'MEDIUM' THEN 'medium format'
      |   WHEN 'SMALL' THEN 'small format' WHEN 'STANDARD' THEN 'standard line'
      |   ELSE p_type END AS type_label,
      | 'part ''' || p_name || ''' (' || p_type || ') size ' || CAST(p_size AS VARCHAR) AS description,
      | 'https://parts.example.com/' || CAST(p_partkey AS VARCHAR) AS url
      |FROM part ORDER BY p_partkey""".stripMargin

  val relOrdersRollup: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      | coalesce(o_orderpriority, 'ALL') AS priority,
      | count(*) AS n_orders,
      | CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS total_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  val relCustomerDeciles: String =
    """WITH d AS (SELECT c_custkey, c_acctbal,
      |  CAST(ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS decile
      |  FROM customer)
      |SELECT decile, count(*) AS n_customers, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
      |FROM d GROUP BY decile ORDER BY decile""".stripMargin

  val relRepresentativeValues: String =
    """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |m AS (SELECT o_orderpriority, o_orderstatus AS mode_status FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
      |    ORDER BY cnt DESC, o_orderstatus ASC) AS rn FROM c) t WHERE rn = 1),
      |a AS (SELECT o_orderpriority, min(o_orderstatus) AS min_status,
      |  median(o_totalprice) AS median_price, count(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT a.o_orderpriority, min_status, mode_status, median_price, n
      |FROM a JOIN m ON a.o_orderpriority = m.o_orderpriority
      |ORDER BY a.o_orderpriority""".stripMargin

  val relColumnProfile: String =
    """WITH a AS (SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
      |  sum(CAST(l_quantity AS DECIMAL(18,4))) AS d_sum,
      |  sum(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS d_sumsq,
      |  min(l_quantity) AS min_q, max(l_quantity) AS max_q,
      |  median(l_quantity) AS median_q, count(DISTINCT l_quantity) AS distinct_q
      | FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n, nulls,
      | CAST(CAST(d_sum AS VARCHAR) AS DOUBLE)/n AS mean_q,
      | sqrt((CAST(CAST(d_sumsq AS VARCHAR) AS DOUBLE)*n - CAST(CAST(d_sum AS VARCHAR) AS DOUBLE)*CAST(CAST(d_sum AS VARCHAR) AS DOUBLE))/(CAST(n AS DOUBLE)*(n-1))) AS sd_q,
      | min_q, max_q, median_q, distinct_q
      |FROM a ORDER BY l_returnflag""".stripMargin

  val relCustomerUnpivot: String =
    """SELECT c_custkey, attr, val FROM (
      | SELECT c_custkey, 'acctbal' AS attr, CAST(c_acctbal AS DOUBLE) AS val FROM customer
      | UNION ALL
      | SELECT c_custkey, 'nationkey' AS attr, CAST(c_nationkey AS DOUBLE) AS val FROM customer
      |) t ORDER BY c_custkey, attr""".stripMargin

  /** As-of join — the DuckDB twin of EventOps.asofJoin. Same tagged
    * union + running last_value(IGNORE NULLS) program. The carried
    * (orderkey, totalprice) ride in ONE struct so the pair stays
    * COHERENT: two independent IGNORE-NULLS windows (the pre-r20 shape)
    * silently backfilled a null totalprice from an EARLIER order while
    * keeping the later order's key — caught by the r20 evt fuzz
    * (bench/history/fuzz_evt_r20.jsonl seed 1), where the Spark side's atomic struct
    * carry was RIGHT and this oracle was wrong. Undated orders are
    * filtered on both sides (no position on the as-of timeline). */
  val evtAsofJoin: String =
    """WITH u AS (
      | SELECT user_id AS k, epoch_ms(ts) AS t, 1 AS side, event_id,
      |  CAST(NULL AS BIGINT) AS o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice
      | FROM events WHERE ts IS NOT NULL
      | UNION ALL
      | SELECT o_custkey, epoch_ms(o_orderdate), 0, NULL, o_orderkey, o_totalprice
      | FROM orders WHERE o_orderdate IS NOT NULL),
      |w AS (SELECT *,
      |  last_value(CASE WHEN side = 0
      |    THEN struct_pack(ok := o_orderkey, op := o_totalprice) END
      |   IGNORE NULLS) OVER win AS lo
      | FROM u WINDOW win AS (PARTITION BY k ORDER BY t, side, o_orderkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, k AS user_id, t AS ms,
      | (lo).ok AS o_orderkey, (lo).op AS o_totalprice
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  /** Point-in-interval range join — the DuckDB twin of
    * EventOps.rangeJoin. DuckDB runs the inequality join directly (its
    * IEJoin handles sf0.01); the Spark side bucketizes — same rows. */
  val evtRangeJoin: String =
    """WITH e AS (SELECT *, epoch_ms(ts) AS ms FROM events)
      |SELECT p.event_id AS purchase_id, p.user_id,
      | count(*) AS n_hits,
      | CAST(CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
      |FROM e p JOIN e c ON c.user_id = p.user_id
      | AND c.event_type IN ('click', 'view')
      | AND c.ms >= p.ms - 3600000 AND c.ms < p.ms
      |WHERE p.event_type = 'purchase'
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Weekly retention cohorts — the DuckDB twin of EventOps.retention. */
  val evtRetention: String =
    """WITH e AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
      |s AS (SELECT cohort, count(*) AS n_cohort FROM c GROUP BY cohort),
      |r AS (SELECT cohort, wk - cohort AS k, count(*) AS n_retained
      |  FROM e JOIN c USING (user_id) WHERE wk - cohort <= 3 GROUP BY cohort, k)
      |SELECT cohort, k, n_cohort, n_retained,
      | CAST(n_retained AS DOUBLE)/n_cohort AS retention
      |FROM r JOIN s USING (cohort) ORDER BY cohort, k""".stripMargin

  /** Corpus keep/drop tallies — the DuckDB twin of TextOps.corpusFilter
    * (duplicate → language → quality decision order). */
  val textCorpusFilter: String =
    s"""WITH $W,
       |nrm AS (SELECT doc_id, md5(array_to_string(ws, ' ')) AS fp FROM w),
       |canon AS (SELECT doc_id,
       |  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS is_canonical
       |  FROM nrm),
       |tok AS (SELECT doc_id, lang, t.tok FROM w, UNNEST(ws) AS t(tok)),
       |agg AS (SELECT doc_id, lang, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN tok IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
       |  FROM tok GROUP BY doc_id, lang),
       |qual AS (SELECT doc_id, lang,
       |  least(CAST(n_tokens AS DOUBLE)/100.0, 1.0) * (1.0 - CAST(n_stopwords AS DOUBLE)/n_tokens) AS quality
       |  FROM agg),
       |j AS (SELECT c.doc_id,
       |  CASE WHEN is_canonical = 0 THEN 'drop_duplicate'
       |   WHEN d.lang NOT IN ('de','en','es','fr') THEN 'drop_lang'
       |   WHEN quality IS NULL OR quality < 0.4 THEN 'drop_quality'
       |   ELSE 'kept' END AS status
       |  FROM documents d JOIN canon c USING (doc_id) LEFT JOIN qual USING (doc_id))
       |SELECT status, count(*) AS n_docs FROM j GROUP BY status ORDER BY status""".stripMargin

  /** Winnowing fingerprints (k=8, w=4) — the DuckDB twin of
    * TextOps.winnowFingerprint: same k-gram hashes, same window minima,
    * full windows only. */
  val textWinnowFingerprint: String =
    s"""WITH $W,
       |d0 AS (SELECT doc_id,
       |  lower(array_to_string(list_filter(ws, x -> len(x) > 0), ' ')) AS nt FROM w),
       |d AS (SELECT doc_id, nt, len(nt) - 7 AS ng FROM d0 WHERE len(nt) - 7 >= 4),
       |g AS (SELECT doc_id, ng, i, ${graft.operators.Texty.baseHash60Sql("substr(nt, CAST(i AS INT), 8)")} AS h
       |  FROM d, UNNEST(range(1, CAST(ng AS INT) + 1)) AS t(i)),
       |mw AS (SELECT doc_id, ng, i,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
       |  FROM g)
       |SELECT DISTINCT doc_id, mn AS fingerprint FROM mw
       |WHERE i <= ng - 3 ORDER BY doc_id, fingerprint""".stripMargin

  /** Per-language in-order sequence packing — the DuckDB twin of
    * TextOps.packSequences at budget 2048. */
  val textPackSequences: String =
    s"""WITH $W,
       |t AS (SELECT doc_id, lang,
       |  CAST(len(list_filter(ws, x -> len(x) > 0)) AS BIGINT) AS n_tokens FROM w),
       |c AS (SELECT doc_id, lang, n_tokens,
       |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum_tokens
       |  FROM t)
       |SELECT doc_id, lang, n_tokens, cum_tokens,
       | (cum_tokens - n_tokens) // 2048 AS seq_id
       |FROM c ORDER BY lang, doc_id""".stripMargin

  /** Deterministic per-language stratified sample — the DuckDB twin of
    * TextOps.stratifiedSample (en kept at 0.4, everything else 1.0). */
  val textStratifiedSample: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${graft.operators.Texty.baseHash60Sql("CAST(doc_id AS VARCHAR)")} % 1000000
       |  < (CASE WHEN lang = 'en' THEN 0.4 ELSE 1.0 END) * 1000000
       |ORDER BY doc_id""".stripMargin

  /** Eval-set decontamination — the DuckDB twin of TextOps.decontaminate
    * (hold-out doc_id % 20 = 0; same 60-bit shingle hashes). */
  val textDecontaminate: String =
    s"""WITH $W,
       |$SH,
       |h AS (SELECT doc_id, ${graft.operators.Texty.baseHash60Sql("sh")} AS h FROM sh),
       |ev AS (SELECT doc_id AS eval_doc_id, h FROM h WHERE doc_id % 20 = 0),
       |corp AS (SELECT doc_id, h FROM h WHERE doc_id % 20 <> 0)
       |SELECT corp.doc_id,
       | count(DISTINCT corp.h) AS n_shingles,
       | count(DISTINCT CASE WHEN eval_doc_id IS NOT NULL THEN corp.h END) AS n_hit_shingles,
       | count(DISTINCT eval_doc_id) AS n_eval_docs,
       | (count(DISTINCT CASE WHEN eval_doc_id IS NOT NULL THEN corp.h END) * 1000000)
       |   // count(DISTINCT corp.h) AS contamination_ppm,
       | CAST(CASE WHEN count(DISTINCT CASE WHEN eval_doc_id IS NOT NULL THEN corp.h END) > 0
       |   THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       |FROM corp LEFT JOIN ev USING (h)
       |GROUP BY corp.doc_id ORDER BY corp.doc_id""".stripMargin

  /** Cross-source contamination matrix — the DuckDB twin of
    * TextOps.crossSourceOverlap (word-8-shingles, same 60-bit hashes,
    * same df ≤ 64 posting-list truncation). */
  val textCrossSourceOverlap: String =
    s"""WITH w8 AS (SELECT doc_id, source,
       |  string_split_regex(trim(text), '\\s+') AS ws FROM documents),
       |s8 AS (SELECT DISTINCT doc_id, source, array_to_string(ws[i:i+7], ' ') AS sh
       |  FROM w8, UNNEST(range(1, len(ws)-6)) AS t(i) WHERE len(ws) >= 8),
       |h8 AS (SELECT doc_id, source, ${graft.operators.Texty.baseHash60Sql("sh")} AS h FROM s8),
       |p AS (SELECT doc_id, source, h FROM
       |  (SELECT *, count(*) OVER (PARTITION BY h) AS df FROM h8) WHERE df <= 64)
       |SELECT a.source AS source_a, b.source AS source_b,
       | count(DISTINCT (a.doc_id, b.doc_id)) AS n_doc_pairs,
       | count(DISTINCT a.h) AS n_shared_shingles
       |FROM p a JOIN p b ON a.h = b.h AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Corpus mixture plan — the DuckDB twin of TextOps.mixturePlan
    * (per-(lang, source) token counts, proportional-cap keep rate at a
    * 5000-token budget, exact integer ppm). */
  val textMixturePlan: String =
    s"""WITH t AS (SELECT lang, source,
       |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> len(x) > 0)) AS BIGINT) AS nt FROM documents),
       |a AS (SELECT lang, source, count(*) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens FROM t GROUP BY 1, 2)
       |SELECT lang, source, n_docs, n_tokens,
       | LEAST(1000000, (5000::BIGINT * 1000000) // GREATEST(1, n_tokens)) AS rate_ppm,
       | (n_tokens * LEAST(1000000, (5000::BIGINT * 1000000) // GREATEST(1, n_tokens))) // 1000000
       |   AS planned_tokens
       |FROM a ORDER BY lang, source""".stripMargin

  /** Mixture plan applied — the DuckDB twin of TextOps.mixtureApply
    * (same rate derivation as textMixturePlan at the 200-token apply
    * budget, same deterministic hash-gate keep decision as
    * textStratifiedSample). */
  val textMixtureApply: String =
    s"""WITH t AS (SELECT lang, source,
       |  CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |    x -> len(x) > 0)) AS BIGINT) AS nt FROM documents),
       |a AS (SELECT lang, source, CAST(sum(nt) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY 1, 2),
       |p AS (SELECT lang, source,
       |  LEAST(1000000, (200::BIGINT * 1000000) // GREATEST(1, n_tokens)) AS rate_ppm
       |  FROM a)
       |SELECT d.doc_id, d.lang, d.source, p.rate_ppm
       |FROM documents d JOIN p USING (lang, source)
       |WHERE ${graft.operators.Texty.baseHash60Sql("CAST(d.doc_id AS VARCHAR)")} % 1000000
       |  < p.rate_ppm
       |ORDER BY d.doc_id""".stripMargin

  /** Gopher-style repetition signals — the DuckDB twin of
    * TextOps.repetition (n ∈ {2,3}, non-distinct grams, ppm integer
    * shares). */
  val textRepetition: String =
    s"""WITH $W,
       |g AS (
       | SELECT doc_id, 2 AS n, ws[i] || ' ' || ws[i+1] AS gram
       |  FROM w, UNNEST(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2
       | UNION ALL
       | SELECT doc_id, 3, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |  FROM w, UNNEST(range(1, len(ws)-1)) AS t(i) WHERE len(ws) >= 3),
       |c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
       |a AS (SELECT doc_id, n, CAST(sum(cnt) AS BIGINT) AS n_grams, max(cnt) AS top_cnt,
       |  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_cnt
       |  FROM c GROUP BY 1, 2)
       |SELECT doc_id, CAST(n AS BIGINT) AS n, n_grams,
       | (top_cnt * 1000000) // n_grams AS top_ppm,
       | (dup_cnt * 1000000) // n_grams AS dup_ppm
       |FROM a ORDER BY doc_id, n""".stripMargin

  /** Ordered view→click→purchase funnel — the DuckDB twin of
    * EventOps.funnel (first view, first click after it, first purchase
    * after that). */
  val evtFunnel: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, min(ms) AS view_ms FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ms) AS click_ms FROM e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ms > v.view_ms GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ms) AS purchase_ms FROM e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ms > c.click_ms GROUP BY 1)
      |SELECT v.user_id, v.view_ms, c.click_ms, p.purchase_ms,
      | CAST(1 + CASE WHEN c.click_ms IS NULL THEN 0 ELSE 1 END
      |        + CASE WHEN p.purchase_ms IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY v.user_id""".stripMargin

  /** Connected components over the exact-Jaccard pair relation via a
    * recursive CTE: reach(node) accumulates every label reachable over
    * the symmetric edge list; min per node = the component's minimum
    * doc_id — the same fixpoint the Spark min-label propagation hits. */
  val dedupClusters: String =
    s"""WITH RECURSIVE $W,
       |$SH,
       |${shCapped(64)},
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM shp GROUP BY doc_id),
       |i AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM shp x JOIN shp y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b
       |  FROM i JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE CAST(inter AS DOUBLE)/(ca.n_sh + cb.n_sh - inter) >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION ALL SELECT doc_b, doc_a FROM p),
       |reach(node, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node)
       |SELECT node AS doc_id, min(label) AS cluster_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** Synthetic phenotype long-form shared by the two P9 oracles — the
    * DuckDB twin of Harmonize.syntheticLong. */
  private val p9Long: String =
    """SELECT c_custkey AS material_id, 'SEX' AS name,
      |  CAST(c_custkey % 2 + 1 AS VARCHAR) AS value FROM customer
      |UNION ALL SELECT c_custkey, 'AGE', CAST(20 + c_custkey % 60 AS VARCHAR) FROM customer
      |UNION ALL SELECT c_custkey, 'SYSBP', CAST(90 + c_custkey % 80 AS VARCHAR) FROM customer
      |UNION ALL SELECT c_custkey, 'MHHTN',
      |  CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'Yes' WHEN 1 THEN '1'
      |   WHEN 2 THEN 'No' ELSE '' END FROM customer""".stripMargin

  val etlHarmonizedPhenotypes: String =
    s"""WITH long AS ($p9Long), h AS (
      | SELECT material_id,
      |  CASE WHEN upper(name) IN ('GENDER','SEX') THEN 'Gender'
      |   WHEN upper(name) IN ('VISIT_AGE','AGE','AGE_ENROLL') THEN 'Age'
      |   WHEN upper(name) = 'VISIT_YEAR' THEN 'Visit year'
      |   WHEN upper(name) = 'SYSBP' THEN 'Systolic blood pressure'
      |   WHEN upper(name) = 'DIASBP' THEN 'Diastolic blood pressure' END AS hname,
      |  CASE WHEN upper(name) IN ('GENDER','SEX') THEN
      |    CASE value WHEN '2' THEN 'female' WHEN '1' THEN 'male' END
      |   ELSE value END AS hvalue
      | FROM long WHERE value IS NOT NULL AND value <> '')
      |SELECT material_id, hname AS name, min(hvalue) AS value FROM h
      |WHERE hname IS NOT NULL GROUP BY material_id, hname
      |ORDER BY material_id, name""".stripMargin

  /** Chunk-level exact dedup — the DuckDB twin of TextOps.chunkDedup
    * (16-token non-overlapping chunks, global first-wins on the 60-bit
    * chunk hash, first = min (doc_id, chunk_idx), reassembly in chunk
    * order; empty reassembly is '' on both engines). */
  val textChunkDedup: String =
    s"""WITH w0 AS (SELECT doc_id,
       |  list_filter(string_split_regex(trim(text), '\\s+'), x -> len(x) > 0) AS ws
       |  FROM documents),
       |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       |  array_to_string(ws[CAST(i*16+1 AS INT) : CAST(i*16+16 AS INT)], ' ') AS chunk
       |  FROM w0, UNNEST(range(0, (len(ws)-1)//16 + 1)) AS t(i) WHERE len(ws) > 0),
       |h AS (SELECT doc_id, chunk_idx, chunk,
       |  ${graft.operators.Texty.baseHash60Sql("chunk")} AS h FROM c),
       |k AS (SELECT doc_id, chunk_idx, chunk,
       |  CASE WHEN row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) = 1
       |   THEN 1 ELSE 0 END AS kept FROM h)
       |SELECT doc_id, count(*) AS n_chunks,
       | CAST(sum(kept) AS BIGINT) AS n_kept,
       | coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE kept = 1), '')
       |   AS dedup_text
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic corpus shuffle — the DuckDB twin of
    * TextOps.corpusShuffle: the single-node total-order rank the
    * distributed two-pass (bucket offsets + per-bucket rank) must equal
    * bit-for-bit. */
  val textCorpusShuffle: String =
    s"""WITH k AS (SELECT doc_id,
       |  ${graft.operators.Texty.baseHash60Sql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS k
       |  FROM documents),
       |nb AS (SELECT LEAST(GREATEST((count(*) + 4095) // 4096, 1), 65536) AS nb
       |  FROM documents)
       |SELECT row_number() OVER (ORDER BY k, doc_id) - 1 AS position,
       | doc_id, k AS shuffle_key,
       | ((k >> 20) * (SELECT nb FROM nb)) >> 40 AS bucket
       |FROM k ORDER BY position""".stripMargin

  /** Exact embedding covariance — the DuckDB twin of
    * SimilarityOps.embeddingCovariance. The oracle pays the ×2080 pair
    * explode the Spark operator's native one-pass aggregate avoids
    * (single-node, sf0.01 — affordable here, the point at scale); the
    * exact HUGEINT moments and the fixed division order make the final
    * double bit-comparable. */
  val simEmbeddingCovariance: String =
    s"""WITH q AS (SELECT
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ij AS (SELECT a.i AS i, b.j AS j
       |  FROM UNNEST(range(0, 64)) AS a(i), UNNEST(range(0, 64)) AS b(j)
       |  WHERE b.j >= a.i),
       |s AS (SELECT i, j, count(*) AS n_vectors,
       |  sum(qv[CAST(i AS INT) + 1]) AS s_i_h,
       |  sum(qv[CAST(j AS INT) + 1]) AS s_j_h,
       |  sum(qv[CAST(i AS INT) + 1] * qv[CAST(j AS INT) + 1]) AS s_ij_h
       |  FROM q, ij GROUP BY i, j)
       |SELECT i, j, n_vectors,
       | CAST(s_i_h AS VARCHAR) AS s_i,
       | CAST(s_j_h AS VARCHAR) AS s_j,
       | CAST(s_ij_h AS VARCHAR) AS s_ij,
       | CAST(CAST(n_vectors * s_ij_h - s_i_h * s_j_h AS VARCHAR) AS DOUBLE)
       |   / (CAST(n_vectors AS DOUBLE) * CAST(n_vectors AS DOUBLE) * 1e12) AS cov
       |FROM s ORDER BY i, j""".stripMargin

  /** Shared pipe for the top-principal-component family — the exact
    * HUGEINT moments, the integer covariance scaling, and the 10
    * power-iteration rounds (MATERIALIZED per round: the max-rescale
    * references each matvec twice, and CTE inlining otherwise doubles
    * the tree per round). Ends at `v10`, the converged ppm component. */
  private val TOPC_PIPE: String = {
    val rounds = (1 to 10).map { t =>
      s"""x$t AS MATERIALIZED (SELECT cfs.i, sum(cfs.c * v.v) AS x
         |  FROM cfs JOIN v${t - 1} v ON cfs.j = v.vi GROUP BY cfs.i),
         |m$t AS (SELECT greatest(max(abs(x)), 1) AS mx FROM x$t),
         |v$t AS MATERIALIZED (SELECT i AS vi,
         |  CASE WHEN x < 0 THEN -(((-x) * 1000000) // (SELECT mx FROM m$t))
         |   ELSE (x * 1000000) // (SELECT mx FROM m$t) END AS v FROM x$t)""".stripMargin
    }.mkString(",\n")
    s"""q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ij AS (SELECT a.i AS i, b.j AS j
       |  FROM UNNEST(range(0, 64)) AS a(i), UNNEST(range(0, 64)) AS b(j)
       |  WHERE b.j >= a.i),
       |s AS (SELECT i, j, count(*) AS n,
       |  sum(qv[CAST(i AS INT) + 1]) AS s_i_h,
       |  sum(qv[CAST(j AS INT) + 1]) AS s_j_h,
       |  sum(qv[CAST(i AS INT) + 1] * qv[CAST(j AS INT) + 1]) AS s_ij_h
       |  FROM q, ij GROUP BY i, j),
       |cn AS (SELECT max(n) AS n FROM s),
       |tri AS (SELECT i, j, n * s_ij_h - s_i_h * s_j_h AS c FROM s),
       |cf AS (SELECT i, j, c FROM tri
       |  UNION ALL SELECT j, i, c FROM tri WHERE i <> j),
       |cs AS (SELECT greatest(max(abs(c)) // 1000000000000, 1) AS cscale FROM cf),
       |cfs AS MATERIALIZED (SELECT i, j,
       |  CASE WHEN c < 0 THEN -((-c) // (SELECT cscale FROM cs))
       |   ELSE c // (SELECT cscale FROM cs) END AS c FROM cf),
       |v0 AS (SELECT CAST(a.i AS BIGINT) AS vi, CAST(1000000 AS HUGEINT) AS v
       |  FROM UNNEST(range(0, 64)) a(i)),
       |$rounds""".stripMargin
  }

  /** Top principal component — the DuckDB twin of
    * SimilarityOps.topComponent: [[TOPC_PIPE]] finished by the Rayleigh
    * eigenvalue with the VARCHAR-routed HUGEINT→DOUBLE casts (the repo
    * convention for correctly-rounded comparisons, see
    * simEmbeddingCovariance). */
  val simTopComponent: String =
    s"""WITH $TOPC_PIPE,
       |xf AS (SELECT cfs.i, sum(cfs.c * v.v) AS x
       |  FROM cfs JOIN v10 v ON cfs.j = v.vi GROUP BY cfs.i),
       |lam AS (SELECT sum(xf.x * v.v) AS vtcv, sum(v.v * v.v) AS vtv
       |  FROM xf JOIN v10 v ON xf.i = v.vi)
       |SELECT v.vi AS i, CAST(v.v AS BIGINT) AS component_ppm,
       | CAST(CAST((SELECT vtcv FROM lam) AS VARCHAR) AS DOUBLE)
       |  / CAST(CAST((SELECT vtv FROM lam) AS VARCHAR) AS DOUBLE)
       |  * CAST(CAST((SELECT cscale FROM cs) AS VARCHAR) AS DOUBLE)
       |  / (CAST((SELECT n FROM cn) AS DOUBLE) * CAST((SELECT n FROM cn) AS DOUBLE) * 1e12)
       |  AS eigenvalue
       |FROM v10 v ORDER BY i""".stripMargin

  /** Per-vector projection onto the top component — the DuckDB twin of
    * SimilarityOps.componentScores: the same exact integer numerator
    * n·(qv·v) − Σ s1ᵢ·vᵢ, one double division at the end. */
  val simComponentScores: String =
    s"""WITH $TOPC_PIPE,
       |s1d AS (SELECT a.i AS i, sum(qv[CAST(a.i AS INT) + 1]) AS s1
       |  FROM q, UNNEST(range(0, 64)) AS a(i) GROUP BY a.i),
       |svc AS (SELECT sum(s1d.s1 * v.v) AS sv FROM s1d JOIN v10 v ON s1d.i = v.vi),
       |vl AS (SELECT list(v ORDER BY vi) AS v FROM v10)
       |SELECT q.vec_id,
       | CAST(CAST((SELECT n FROM cn)
       |   * CAST(list_sum(list_transform(generate_series(1,64), d -> qv[d] * vl.v[d])) AS HUGEINT)
       |   - (SELECT sv FROM svc) AS VARCHAR) AS DOUBLE)
       |  / (CAST((SELECT n FROM cn) AS DOUBLE) * 1e12) AS score
       |FROM q CROSS JOIN vl ORDER BY q.vec_id""".stripMargin

  val etlHypertensionStatus: String =
    s"""WITH long AS ($p9Long), s AS (
      | SELECT material_id,
      |  CASE WHEN lower(value) = 'yes' OR value = '1' THEN 2
      |   WHEN regexp_matches(value, '\\S') THEN 1 ELSE 0 END AS rk
      | FROM long WHERE upper(name) IN ('HYPERTENSION','HIGHBLOODPRES','MHHTN'))
      |SELECT material_id, 'Hypertension' AS name, 'DOID:10763' AS disease_id,
      | CASE WHEN max(rk) = 2 THEN 'yes' ELSE 'no' END AS status
      |FROM s GROUP BY material_id HAVING max(rk) > 0
      |ORDER BY material_id""".stripMargin

  // ---- the seven canonical DATS queries (SURVEY.md §2.9) ----
  // Each twin replays graft.query.DatsGen's derivation COLLAPSED to the
  // base tables (the entity tables are pure views, so substituting them
  // into the query plans yields these direct joins) — a green row proves
  // the derivation and the DataFrame plan together.

  /** Region/nation id fragments shared by the twins. */
  private val phsAcc = "'phs' || lpad(CAST(n_nationkey AS VARCHAR), 6, '0')"

  /** DatsGen's deterministic per-order line sequence ((l_orderkey,
    * l_linenumber) is not unique in the synthetic lineitem) — must be
    * selected from a subquery exposing `l_seq`. */
  private val lSeq =
    """row_number() OVER (PARTITION BY l_orderkey
      |   ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice)""".stripMargin
  private val fid =
    "'F' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_seq AS VARCHAR)"

  /** Q1 — 2nd-level datasets under the ASIA/EUROPE project roots:
    * children of the top datasets, accession-or-title + title, ordered. */
  val datsQ1: String =
    s"""SELECT $phsAcc AS dataset_acc, n_name AS title
       |FROM nation JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name IN ('ASIA', 'EUROPE')
       |ORDER BY dataset_acc""".stripMargin

  /** Q2 — dataset variables for study phs000003 (nation 3): the per-study
    * Dimension block, 2-key ORDER BY. */
  val datsQ2: String =
    s"""SELECT $phsAcc AS study_acc,
       | 'phv' || lpad(CAST(n_nationkey AS VARCHAR), 3, '0') || v.suffix AS var_acc,
       | v.vname AS var_name, v.vdesc AS description
       |FROM nation, (VALUES
       |  ('01', 'Gender', 'Subject gender'),
       |  ('02', 'Age_Range', 'Subject age range'),
       |  ('03', 'Market_Segment', 'Customer market segment'),
       |  ('04', 'Order_Priority', 'Sample order priority'),
       |  ('05', 'Order_Status', 'Sample order status')) v(suffix, vname, vdesc)
       |WHERE n_nationkey = 3
       |ORDER BY study_acc, var_acc""".stripMargin

  /** Q3 — members of study group AUTOMOBILE in dataset phs000000 (nation 0):
    * the group is the (nation, mktsegment) pair, members its customers. */
  val datsQ3: String =
    s"""SELECT n_name || ' study' AS study_name, c_mktsegment AS group_name,
       | c_name AS member_name
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |WHERE n_nationkey = 0 AND c_mktsegment = 'AUTOMOBILE'
       |ORDER BY study_name, group_name, member_name""".stripMargin

  /** Q4 — DISTINCT subject/sample/extract-role triples via the
    * extract→specimen→donor derivesFrom chain. */
  val datsQ4: String =
    s"""SELECT DISTINCT c_name AS subject_name,
       | 'SM-' || CAST(o_orderkey AS VARCHAR) AS sample_name,
       | CASE WHEN l_linenumber % 2 = 0 THEN 'DNA extract' ELSE 'RNA extract' END
       |   AS extract_role
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       |ORDER BY subject_name, sample_name, extract_role""".stripMargin

  /** Subject-level characteristic long-form (DatsGen's 3 donor rows). */
  private val subjChars: String =
    """SELECT c_name, 'phv00001' AS var_acc, 'Gender' AS name,
      |  CASE WHEN c_custkey % 2 = 0 THEN 'female' ELSE 'male' END AS value
      | FROM customer
      |UNION ALL SELECT c_name, 'phv00002', 'Age_Range',
      |  CAST(20 + (c_custkey % 6) * 10 AS VARCHAR) || '-' ||
      |  CAST(29 + (c_custkey % 6) * 10 AS VARCHAR) FROM customer
      |UNION ALL SELECT c_name, 'phv00003', 'Market_Segment', c_mktsegment
      | FROM customer""".stripMargin

  /** Q5 — donor characteristics, DISTINCT, 3-key ORDER BY. */
  val datsQ5: String =
    s"""WITH ch AS ($subjChars)
       |SELECT DISTINCT c_name AS material_name, var_acc, name AS char_name, value
       |FROM ch ORDER BY material_name, char_name, value""".stripMargin

  /** Q6 — specimen characteristics (per-order priority/status rows). */
  val datsQ6: String =
    s"""WITH ch AS (
       | SELECT 'SM-' || CAST(o_orderkey AS VARCHAR) AS material_name,
       |  'phv00004' AS var_acc, 'Order_Priority' AS name, o_orderpriority AS value
       | FROM orders
       | UNION ALL SELECT 'SM-' || CAST(o_orderkey AS VARCHAR),
       |  'phv00005', 'Order_Status', o_orderstatus FROM orders)
       |SELECT DISTINCT material_name, var_acc, name AS char_name, value
       |FROM ch ORDER BY material_name, char_name, value""".stripMargin

  /** Q7 — the denormalizing tabular dump: (study × group × subject × file)
    * grain, fixed pivot header, subjects without files padded by the LEFT
    * join, the reference's column set/order and sort keys (NULLS FIRST
    * mirrors Spark's asc_nulls_first). */
  val datsQ7: String =
    s"""WITH pvt AS (SELECT c_custkey,
       |  CAST(20 + (c_custkey % 6) * 10 AS VARCHAR) || '-' ||
       |   CAST(29 + (c_custkey % 6) * 10 AS VARCHAR) AS age_range,
       |  CASE WHEN c_custkey % 2 = 0 THEN 'female' ELSE 'male' END AS gender,
       |  CASE WHEN c_custkey % 3 = 0 THEN 'positive'
       |   WHEN c_custkey % 3 = 1 THEN 'negative' ELSE 'unknown' END AS hypertension,
       |  c_mktsegment AS market_segment FROM customer),
       |li AS (SELECT *, $lSeq AS l_seq FROM lineitem),
       |f AS (SELECT c.c_name AS subject_name,
       |  ap.aname AS anatomical_part, ap.uberon AS anatomical_part_id,
       |  CASE WHEN l_linenumber % 2 = 0 THEN 'WGS' ELSE 'RNA-Seq' END AS datatype,
       |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS file_size,
       |  md5($fid) AS md5c,
       |  's3://graft-bucket/' || $fid || '.cram' AS aws_uri,
       |  'gs://graft-bucket/' || $fid || '.cram' AS gcp_uri,
       |  '10.0000/' || $fid AS doi,
       |  '10.0000/idx.' || $fid AS index_doi
       | FROM li JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer c ON o_custkey = c.c_custkey
       |  JOIN (VALUES (0, 'Blood', 'UBERON:0000178'), (1, 'Brain', 'UBERON:0000955'),
       |   (2, 'Heart', 'UBERON:0000948'), (3, 'Liver', 'UBERON:0002107'),
       |   (4, 'Lung', 'UBERON:0002048')) ap(k, aname, uberon)
       |  ON l_partkey % 5 = ap.k)
       |SELECT r_name AS "Project", $phsAcc AS "dbGaP_Study",
       | c_mktsegment AS "Study_Group", c_name AS "Subject_ID",
       | p.age_range AS "Age_Range", p.gender AS "Gender",
       | p.hypertension AS "Hypertension", p.market_segment AS "Market_Segment",
       | f.anatomical_part AS "Anatomical_Part",
       | f.anatomical_part_id AS "Anatomical_Part_ID",
       | f.datatype AS "Datatype", f.file_size AS "File_Size",
       | f.md5c AS "MD5_Checksum", f.aws_uri AS "AWS_URI", f.gcp_uri AS "GCP_URI",
       | f.doi AS "DOI", f.index_doi AS "INDEX_DOI"
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey
       | JOIN pvt p ON p.c_custkey = customer.c_custkey
       | LEFT JOIN f ON f.subject_name = c_name
       |ORDER BY "dbGaP_Study", "Study_Group", "Subject_ID",
       | "Anatomical_Part" ASC NULLS FIRST, "Datatype" ASC NULLS FIRST,
       | "AWS_URI" ASC NULLS FIRST""".stripMargin
}
