package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{StoredIndex, Tables}

/** Search / retrieval over the corpus: inverted-index boolean search,
  * TF-IDF ranking, and blocked fuzzy entity resolution. These are the
  * query-side siblings of the curation passes — the same posting-list
  * and blocking disciplines, pointed at retrieval instead of dedup.
  *
  * Scoring is exact integer arithmetic (idf in ppm by integer division)
  * so every query hash-matches its DuckDB oracle. The rational
  * `idf_ppm = (N * 1e6) div df` is the log-free idf surrogate — the
  * SAME monotone-in-1/df ordering per term as ln(N/df), chosen because
  * ln is not correctly-rounded IEEE and would break cross-engine hash
  * equality (Catalog header); documented, not hidden.
  */
object SearchOps {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** The standing query — three mid-frequency corpus terms. */
  private val queryTerms = Seq("spark", "join", "window")
  private val termsSql = queryTerms.map(t => s"'$t'").mkString(", ")

  /** Per-(doc, query-term) term frequencies — the probed slice of the
    * inverted index. One explode + one keyed count; the filter on the
    * query terms happens BEFORE the shuffle, so the shuffled volume is
    * docs x |query| at most, not the token stream.
    */
  private def probedPostings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NOT fanned (r21 measured negative, 0.75x,
    // SCALING.md ("Round-21 (optimization round 1)")): plain tokenize is
    // too cheap to pay the fan-out exchange for — unlike the shingle
    // pipelines, where the same move wins
    docs(s, d)
      .select($"doc_id", explode(TextOps.toks).as("t"))
      .filter($"t".isin(queryTerms: _*))
      .groupBy($"doc_id", $"t")
      .agg(count(lit(1)).as("tf"))
  }

  private val oracleTok =
    s"""tok AS (
       |  SELECT doc_id, unnest(${TextOps.oracleToks}) AS t FROM documents),
       |m AS (
       |  SELECT doc_id, t, COUNT(*) AS tf FROM tok
       |  WHERE t IN ($termsSql) GROUP BY 1, 2)""".stripMargin

  // ---------------------------------------------------------------------
  // Conjunctive boolean search: docs containing ALL query terms, with
  // the summed term frequency. The HAVING count(distinct term) = |q|
  // form is the standard posting-list intersection expressed
  // relationally — at scale each term's postings arrive pre-sharded by
  // doc_id from the same shuffle, so the intersection is a single
  // keyed aggregation, never a per-term join chain.
  // ---------------------------------------------------------------------
  val boolSearch = Q(
    "t_bool_search",
    (s, d) => {
      import s.implicits._
      probedPostings(s, d)
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_terms"), // (doc, t) grain is distinct by construction
          sum($"tf").as("tf_total"))
        .filter($"n_terms" === queryTerms.length.toLong)
        .select($"doc_id", $"tf_total")
    },
    Some(s"""
      WITH $oracleTok
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_total
      FROM m GROUP BY 1 HAVING COUNT(DISTINCT t) = ${queryTerms.length}
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // TF-IDF ranked retrieval: score(d) = Σ_t tf(d,t) * idf_ppm(t) over
  // the query terms, idf_ppm = (N * 1e6) div df(t), top 15 by (score,
  // doc_id). df comes from the probed postings themselves (distinct
  // docs per term — 3 rows, broadcast); N is the corpus count, a
  // 1-row driver hand-off, same sanction class as the kmeans centroid
  // literals. Final top-k is TakeOrderedAndProject.
  // ---------------------------------------------------------------------
  private val searchK = 15

  val tfidfSearch = Q(
    "t_tfidf_search",
    (s, d) => {
      import s.implicits._
      val postings = probedPostings(s, d)
      val n = docs(s, d).count()
      // ${n}L: an interpolated INT literal would overflow 2^31 at
      // corpus sizes past ~2k docs under ANSI mode (caught at sf0.1)
      val df = postings.groupBy($"t").agg(count(lit(1)).as("df"))
        .withColumn("idf_ppm", expr(s"(${n}L * 1000000L) div df"))
      postings
        .join(broadcast(df.select($"t", $"idf_ppm")), "t")
        .groupBy($"doc_id")
        .agg(sum($"tf" * $"idf_ppm").as("score_ppm"))
        .orderBy($"score_ppm".desc, $"doc_id")
        .limit(searchK)
    },
    Some(s"""
      WITH $oracleTok,
      n AS (SELECT COUNT(*) AS n FROM documents),
      df AS (
        SELECT t, ((SELECT n FROM n) * 1000000) // COUNT(*) AS idf_ppm
        FROM m GROUP BY t)
      SELECT doc_id, CAST(SUM(m.tf * df.idf_ppm) AS BIGINT) AS score_ppm
      FROM m JOIN df USING (t)
      GROUP BY 1 ORDER BY score_ppm DESC, doc_id LIMIT $searchK
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Okapi BM25 ranked retrieval — TF-IDF's (t_tfidf_search) saturating,
  // length-normalized upgrade and the default lexical ranker in every
  // production search stack. With k1 = 6/5 and b = 3/4 the per-term
  // saturation tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) clears to the
  // EXACT integer rational
  //
  //   sat_pp6 = (22e6·tf·TL) div (10·tf·TL + 3·TL + 9·dl·N)
  //
  // (TL = total corpus tokens, N = docs, dl = this doc's length) — no
  // floats anywhere, so Spark and DuckDB agree bit-for-bit. idf keeps the
  // pack's log-free ppm surrogate (object docs). Overflow bounds (ANSI
  // mode throws rather than wraps, so these are availability bounds, not
  // correctness ones):
  //   - saturation numerator: 22e6·tf·TL ≥ 2^63 at tf·TL ≥ 4.2e11;
  //   - summed score: a df=1 term has idf_ppm = N·1e6 and sat_pp6 up to
  //     2.2e6, so ONE posting can contribute ~2.2e12·N — the per-doc
  //     Σ idf_ppm·sat_pp6 overflows int64 around N ≥ 4.2e6 docs even
  //     when the saturation bound holds. The standing query uses
  //     mid-frequency terms, but prfExpand scores dynamically promoted
  //     expansion terms through the same expression, where a rare term
  //     CAN carry df=1.
  // At 100 TB both move together: TL/N computed per-shard or the score
  // accumulation widened to DECIMAL(38) (idf capping is the lossy
  // alternative). At every test SF the headroom is > 10^5 on both.
  //
  // Scale shape: one corpus scan for (TL, N) — a 1-row driver hand-off,
  // same sanction class as tfidfSearch's count — and one for the probed
  // postings; doc length rides the postings rows (derived in the same
  // projection, no second join). Final top-k = TakeOrderedAndProject;
  // the rnk window sits ABOVE the limit (t_token_topk discipline), so
  // ranking sees ≤ k rows.
  // ---------------------------------------------------------------------

  /** (doc_id, dl, t, tf) for the standing query terms, dl = doc token
    * length carried from the same tokenize pass.
    */
  private def probedPostingsWithLen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select($"doc_id", TextOps.toks.as("tk"))
      .withColumn("dl", size($"tk").cast("long"))
      .select($"doc_id", $"dl", explode($"tk").as("t"))
      .filter($"t".isin(queryTerms: _*))
      .groupBy($"doc_id", $"dl", $"t")
      .agg(count(lit(1)).as("tf"))
  }

  /** (totalTokens, nDocs) — the 1-row corpus-stats hand-off. */
  private def corpusStats(s: SparkSession, d: String): (Long, Long) = {
    import s.implicits._
    val r = docs(s, d)
      .select(size(TextOps.toks).cast("long").as("dl"))
      .agg(sum($"dl"), count(lit(1)))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  /** BM25-scored docs for the standing query: (doc_id, score_pp12). */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (tl, n) = corpusStats(s, d)
    // deliberately NOT checkpointed (r21 measured negative, 0.75x,
    // SCALING.md ("Round-21 (optimization round 1)")): the two
    // consumers' branches execute as CONCURRENT stages of one job, so
    // the recompute is cheaper than the materialization barrier that
    // would serialize them
    val postings = probedPostingsWithLen(s, d)
    val dfT = postings.groupBy($"t").agg(count(lit(1)).as("df"))
      .withColumn("idf_ppm", expr(s"(${n}L * 1000000L) div df"))
    postings
      .join(broadcast(dfT.select($"t", $"idf_ppm")), "t")
      .withColumn("sat_pp6", expr(
        s"(22000000L * tf * ${tl}L) div (10L * tf * ${tl}L + 3L * ${tl}L + 9L * dl * ${n}L)"))
      .groupBy($"doc_id")
      .agg(sum($"idf_ppm" * $"sat_pp6").as("score_pp12"))
  }

  /** Oracle CTE block shared by the BM25-scored queries: tok/c/m/dfa plus
    * the per-(doc, term) saturation. `mWhere` restricts the scored term
    * set (query terms for bm25/rrf; joined dynamically for PRF).
    */
  private def oracleBm25Core: String = oracleBm25CoreFrom("documents")

  private def oracleBm25CoreFrom(src: String): String =
    s"""tok AS (SELECT doc_id, ${TextOps.oracleToks} AS tk FROM $src),
       |c AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS tl,
       |             CAST(COUNT(*) AS BIGINT) AS n FROM tok),
       |p AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS t FROM tok),
       |m AS (SELECT doc_id, dl, t, COUNT(*) AS tf FROM p GROUP BY 1, 2, 3),
       |dfa AS (
       |  SELECT t, ((SELECT n FROM c) * 1000000) // COUNT(*) AS idf_ppm
       |  FROM m GROUP BY t)""".stripMargin

  private def oracleSat: String =
    s"""((22000000 * m.tf * (SELECT tl FROM c)) //
       |  (10 * m.tf * (SELECT tl FROM c) + 3 * (SELECT tl FROM c)
       |   + 9 * m.dl * (SELECT n FROM c)))""".stripMargin

  val bm25Search = Q(
    "t_bm25_search",
    (s, d) => {
      import s.implicits._
      bm25Scored(s, d)
        .orderBy($"score_pp12".desc, $"doc_id")
        .limit(searchK)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"score_pp12".desc, $"doc_id")).cast("long"))
    },
    Some(s"""
      WITH $oracleBm25Core,
      scored AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t) WHERE m.t IN ($termsSql) GROUP BY 1)
      SELECT doc_id, score_pp12,
             ROW_NUMBER() OVER (ORDER BY score_pp12 DESC, doc_id) AS rnk
      FROM scored QUALIFY rnk <= $searchK
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Hybrid retrieval via reciprocal-rank fusion — the standard way a
  // training-data / RAG pipeline combines a lexical ranker with a dense
  // embedding ranker without comparable score scales: each list
  // contributes 1/(60 + rank) (the canonical RRF constant), here in exact
  // ppm integers. Sparse list = BM25 top-20; dense list = cosine top-20
  // against a held-out probe (vec 0's embedding; doc 0 is excluded from
  // both lists so the probe can't retrieve itself). Absent ranks
  // contribute 0 and surface as -1.
  //
  // Scale shape: the dense side scans embeddings once against a 1-row
  // broadcast probe (sanctioned BNLJ, v_knn_brute class); both lists are
  // k-bounded by TakeOrderedAndProject before any rank window or the
  // 20x20 full-outer fuse.
  // ---------------------------------------------------------------------

  private val fusionPool = 20
  private val fusionK = 10
  private val probeId = 0L
  private val rrfC = 60L

  val rrfFusion = Q(
    "t_rrf_fusion",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.registerDotD(s)
      val sparse = bm25Scored(s, d)
        .filter($"doc_id" =!= probeId)
        .orderBy($"score_pp12".desc, $"doc_id")
        .limit(fusionPool)
        .withColumn("rank_sparse",
          row_number().over(Window.orderBy($"score_pp12".desc, $"doc_id")).cast("long"))
        .select($"doc_id", $"rank_sparse")
      val qv = Tables.embeddings(s, d)
        .filter($"vec_id" === probeId)
        .select($"embedding".as("q_emb"))
      val dense = Tables.embeddings(s, d)
        .filter($"vec_id" =!= probeId)
        .join(Tables.documents(s, d).select($"doc_id"), $"vec_id" === $"doc_id")
        .join(broadcast(qv))
        .withColumn("sim_micros",
          VectorOps.micros(VectorOps.dotd("q_emb", "embedding") /
            (sqrt(VectorOps.dotd("q_emb", "q_emb")) *
              sqrt(VectorOps.dotd("embedding", "embedding")))))
        .orderBy($"sim_micros".desc, $"doc_id")
        .limit(fusionPool)
        .withColumn("rank_dense",
          row_number().over(Window.orderBy($"sim_micros".desc, $"doc_id")).cast("long"))
        .select($"doc_id", $"rank_dense")
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf_ppm", expr(
          s"coalesce(1000000L div (${rrfC}L + rank_sparse), 0L) + " +
            s"coalesce(1000000L div (${rrfC}L + rank_dense), 0L)"))
        .orderBy($"rrf_ppm".desc, $"doc_id")
        .limit(fusionK)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"rrf_ppm".desc, $"doc_id")).cast("long"))
        .select($"doc_id",
          coalesce($"rank_sparse", lit(-1L)).as("rank_sparse"),
          coalesce($"rank_dense", lit(-1L)).as("rank_dense"),
          $"rrf_ppm", $"rnk")
    },
    Some(s"""
      WITH $oracleBm25Core,
      scored AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t)
        WHERE m.t IN ($termsSql) AND m.doc_id <> $probeId GROUP BY 1),
      sp AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_pp12 DESC, doc_id) AS rank_sparse
        FROM scored QUALIFY rank_sparse <= $fusionPool),
      q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = $probeId),
      sim AS (
        SELECT dd.doc_id,
               CAST(FLOOR(1e6 * (${VectorOps.oDot("q.q_emb", "e.embedding")} /
                 (sqrt(${VectorOps.oDot("q.q_emb", "q.q_emb")}) *
                  sqrt(${VectorOps.oDot("e.embedding", "e.embedding")})))) AS BIGINT)
                 AS sim_micros
        FROM embeddings e JOIN documents dd ON e.vec_id = dd.doc_id, q
        WHERE e.vec_id <> $probeId),
      dn AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY sim_micros DESC, doc_id) AS rank_dense
        FROM sim QUALIFY rank_dense <= $fusionPool),
      f AS (
        SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
               sp.rank_sparse, dn.rank_dense,
               COALESCE(1000000 // ($rrfC + sp.rank_sparse), 0)
                 + COALESCE(1000000 // ($rrfC + dn.rank_dense), 0) AS rrf_ppm
        FROM sp FULL JOIN dn ON sp.doc_id = dn.doc_id)
      SELECT doc_id,
             COALESCE(rank_sparse, -1) AS rank_sparse,
             COALESCE(rank_dense, -1) AS rank_dense,
             CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
             ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM f QUALIFY rnk <= $fusionK
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Exact-phrase ranked retrieval — the adjacency-aware query class the
  // bag-of-words rankers above cannot express ("spark join" as a
  // contiguous phrase, not two terms anywhere). Positions come straight
  // off the token array in the same tokenize pass (a positional-postings
  // scan without materializing positions): the occurrence count is a
  // pure pre-shuffle projection per doc, then the usual
  // TakeOrderedAndProject + rank-above-limit. The CASE guard mirrors
  // shinglesOfTk's: Spark's sequence(1, 0) DESCENDS where DuckDB's
  // generate_series(1, 0) is empty.
  // ---------------------------------------------------------------------

  private val phraseTerms = Seq("spark", "join")

  val phraseSearch = Q(
    "t_phrase_search",
    (s, d) => {
      import s.implicits._
      val adj = (1 to phraseTerms.length).zip(phraseTerms).map { case (off, w) =>
        s"element_at(tk, i + ${off - 1}) = '$w'"
      }.mkString(" AND ")
      docs(s, d)
        .select($"doc_id", TextOps.toks.as("tk"))
        .withColumn("phrase_tf", expr(
          s"""CASE WHEN size(tk) >= ${phraseTerms.length}
             |THEN cast(size(filter(sequence(1, size(tk) - ${phraseTerms.length - 1}),
             |  i -> $adj)) AS BIGINT) ELSE 0L END""".stripMargin))
        .select($"doc_id", $"phrase_tf")
        .orderBy($"phrase_tf".desc, $"doc_id")
        .limit(searchK)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"phrase_tf".desc, $"doc_id")).cast("long"))
        // above the rank: positives sort before zeros (identical rows +
        // ranks), and the Window blocks predicate pushdown, so the
        // occurrence scan runs once per doc instead of twice (pushed
        // filter + projection re-derive tokens and the window count)
        .filter($"phrase_tf" > 0L)
    },
    Some {
      val adj = (1 to phraseTerms.length).zip(phraseTerms).map { case (off, w) =>
        s"tk[i + ${off - 1}] = '$w'"
      }.mkString(" AND ")
      s"""
      WITH tok AS (SELECT doc_id, ${TextOps.oracleToks} AS tk FROM documents),
      hits AS (
        SELECT doc_id,
               CAST(len(list_filter(
                 generate_series(1, greatest(len(tk) - ${phraseTerms.length - 1}, 0)),
                 i -> $adj)) AS BIGINT) AS phrase_tf
        FROM tok)
      SELECT doc_id, phrase_tf,
             ROW_NUMBER() OVER (ORDER BY phrase_tf DESC, doc_id) AS rnk
      FROM hits WHERE phrase_tf > 0 QUALIFY rnk <= $searchK
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Proximity ("near") ranked retrieval — the slop-window query class
  // between bag-of-words and exact phrase: how often does `join` follow
  // `spark` within `proxSlop` tokens? near_tf counts ORDERED position
  // pairs (p1 < p2 <= p1 + slop) — the standard directional NEAR
  // operator, and the degenerate slop=1 case is exactly the 2-term
  // phrase count. Like phraseSearch the occurrence count is a pure
  // pre-shuffle projection per doc (nested higher-order functions over
  // the token array — no explode, no shuffle until the top-k); the
  // stored-index twin [[proximitySearchFromIndex]] reads two position
  // lists instead. The CASE guard mirrors phraseSearch's (Spark's
  // sequence(1, 0) DESCENDS and ANSI element_at throws on an empty
  // array; DuckDB's generate_series(1, 0) is empty).
  // ---------------------------------------------------------------------

  private val proxTerms = ("spark", "join")
  private val proxSlop = 3

  /** near_tf over two 1-based (or any same-base) position arrays —
    * the nested-lambda pair count. Fine over STORED position columns
    * (small materialized arrays); for inline token-derived positions
    * use [[nearIntersect]] instead: predicate pushdown substitutes
    * column definitions into this lambda's body, where the inner
    * filter re-evaluates per OUTER position — O(|p1|·|tk|) per doc
    * (measured: the catalog's worst query, 6.9 s at sf0.1, vs 1.9 s
    * for the intersect form).
    */
  private def nearAgg(p1: String, p2: String, slop: Int = proxSlop): String =
    s"aggregate($p1, 0L, (acc, x) -> acc + size(filter($p2, y -> y > x AND y <= x + $slop)))"

  /** near_tf as Σ_{s=1..slop} |p1 ∩ (p2 − s)| — the same ordered-pair
    * count (positions are distinct, and each (x, y) pair matches at
    * exactly one shift s = y − x), expressed as `slop` copies of the
    * phrase-search intersect primitive with NO nested lambda: however
    * the optimizer substitutes the position definitions, every pass
    * stays linear in |tk|.
    */
  private[graft] def nearIntersect(p1: String, p2: String, slop: Int): String =
    (1 to slop)
      .map(s => s"size(array_intersect($p1, transform($p2, y -> y - $s)))")
      .mkString("cast(", " + ", " AS bigint)")

  /** Guarded positions-of-term projection: one O(|tk|) pass per term.
    * HOISTED into its own column before the pair aggregate — inlining
    * it in the aggregate lambda re-evaluates the whole inner filter per
    * OUTER position (O(|p1|·|tk|) per doc: measured 6.0 s vs 1.9 s at
    * sf0.1, the catalog's worst query until hoisted). The CASE guard is
    * phraseSearch's (Spark's sequence(1, 0) DESCENDS; ANSI element_at
    * throws on an empty array).
    */
  private def guardedPosOf(t: String): String =
    s"""CASE WHEN size(tk) >= 1
       |THEN filter(sequence(1, size(tk)), i -> element_at(tk, i) = '$t')
       |ELSE cast(array() AS array<int>) END""".stripMargin

  val proximitySearch = Q(
    "t_proximity_search",
    (s, d) => {
      import s.implicits._
      docs(s, d)
        .select($"doc_id", TextOps.toks.as("tk"))
        .withColumn("p1", expr(guardedPosOf(proxTerms._1)))
        .withColumn("p2", expr(guardedPosOf(proxTerms._2)))
        .withColumn("near_tf", expr(nearIntersect("p1", "p2", proxSlop)))
        .select($"doc_id", $"near_tf")
        .orderBy($"near_tf".desc, $"doc_id")
        .limit(searchK)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"near_tf".desc, $"doc_id")).cast("long"))
        // positives sort before zeros, so filtering ABOVE the rank keeps
        // identical rows and ranks — and the Window blocks predicate
        // pushdown, so near_tf is computed exactly once per doc instead
        // of re-derived (tokens and all) inside a pushed-down filter
        .filter($"near_tf" > 0L)
    },
    Some {
      def oPos(t: String) = s"list_filter(generate_series(1, len(tk)), i -> tk[i] = '$t')"
      s"""
      WITH tok AS (SELECT doc_id, ${TextOps.oracleToks} AS tk FROM documents),
      hits AS (
        SELECT doc_id,
               CAST(COALESCE(list_sum(list_transform(${oPos(proxTerms._1)},
                 x -> len(list_filter(${oPos(proxTerms._2)},
                   y -> y > x AND y <= x + $proxSlop)))), 0) AS BIGINT) AS near_tf
        FROM tok)
      SELECT doc_id, near_tf,
             ROW_NUMBER() OVER (ORDER BY near_tf DESC, doc_id) AS rnk
      FROM hits WHERE near_tf > 0 QUALIFY rnk <= $searchK
    """.stripMargin.trim
    },
  )

  /** Proximity top-k against the STORED index — the second query class
    * the positional postings pay for: two bucket-pruned position lists
    * joined on doc_id, same near_tf aggregate as [[proximitySearch]]
    * (spec-pinned parity; stored positions are 0-based, the inline scan
    * 1-based — distances are base-invariant).
    */
  def proximitySearchFromIndex(
      s: SparkSession, path: String, t1: String, t2: String, k: Int,
      slop: Int = proxSlop): DataFrame = {
    import s.implicits._
    val buckets = Seq(t1, t2).map(t => jvmH60(t) % indexBuckets).distinct
    val posts = StoredIndex.Postings.resolved(s, path)
      .filter($"bucket".isin(buckets: _*))
      .filter($"t".isin(Seq(t1, t2).distinct: _*))
      .select($"doc_id", $"t", $"positions")
    posts.filter($"t" === t1).select($"doc_id", $"positions".as("p1"))
      .join(posts.filter($"t" === t2).select($"doc_id", $"positions".as("p2")), "doc_id")
      .withColumn("near_tf", expr(nearAgg("p1", "p2", slop)))
      .filter($"near_tf" > 0L)
      .select($"doc_id", $"near_tf")
      .orderBy($"near_tf".desc, $"doc_id")
      .limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy($"near_tf".desc, $"doc_id")).cast("long"))
  }

  // ---------------------------------------------------------------------
  // Pseudo-relevance feedback (Rocchio-style query expansion): retrieve
  // with the standing query, take the top-10 feedback docs, promote
  // their 2 heaviest non-query terms (by summed tf, ties by term) into
  // the query, retrieve again with the expanded 5-term query. The whole
  // two-round dataflow is ONE lazy plan — the feedback set and the
  // expansion terms stay distributed (k-bounded TakeOrderedAndProject
  // results broadcast back into the postings), never a driver collect.
  //
  // Scale shape: the full-vocabulary postings/df tables are built once
  // and feed both rounds (the stored-postings-index shape); every join
  // against them is on a k-bounded broadcast side (10 feedback docs, 5
  // terms).
  // ---------------------------------------------------------------------

  private val prfFeedbackDocs = 10
  private val prfExpandTerms = 2

  val prfExpand = Q(
    "t_prf_expand",
    (s, d) => {
      import s.implicits._
      val (tl, n) = corpusStats(s, d)
      val postingsAll = docs(s, d)
        .select($"doc_id", TextOps.toks.as("tk"))
        .withColumn("dl", size($"tk").cast("long"))
        .select($"doc_id", $"dl", explode($"tk").as("t"))
        .groupBy($"doc_id", $"dl", $"t")
        .agg(count(lit(1)).as("tf"))
      val dfAll = postingsAll.groupBy($"t").agg(count(lit(1)).as("df"))
        .withColumn("idf_ppm", expr(s"(${n}L * 1000000L) div df"))
        .select($"t", $"idf_ppm")
      def score(posts: DataFrame): DataFrame =
        posts
          .withColumn("sat_pp6", expr(
            s"(22000000L * tf * ${tl}L) div (10L * tf * ${tl}L + 3L * ${tl}L + 9L * dl * ${n}L)"))
          .groupBy($"doc_id")
          .agg(sum($"idf_ppm" * $"sat_pp6").as("score_pp12"))
      val round1 = score(
        postingsAll.filter($"t".isin(queryTerms: _*))
          .join(broadcast(dfAll.filter($"t".isin(queryTerms: _*))), "t"))
      val fb = round1.orderBy($"score_pp12".desc, $"doc_id").limit(prfFeedbackDocs)
        .select($"doc_id")
      val expansion = postingsAll
        .join(broadcast(fb), "doc_id")
        .filter(!$"t".isin(queryTerms: _*))
        .groupBy($"t").agg(sum($"tf").as("fb_tf"))
        .orderBy($"fb_tf".desc, $"t")
        .limit(prfExpandTerms)
        .select($"t")
      val terms2 = expansion.unionByName(queryTerms.toDF("t"))
      val idf2 = broadcast(dfAll.join(broadcast(terms2), "t"))
      score(postingsAll.join(idf2, "t"))
        .orderBy($"score_pp12".desc, $"doc_id")
        .limit(searchK)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"score_pp12".desc, $"doc_id")).cast("long"))
    },
    Some(s"""
      WITH $oracleBm25Core,
      s1 AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score
        FROM m JOIN dfa USING (t) WHERE m.t IN ($termsSql) GROUP BY 1),
      fb AS (SELECT doc_id FROM s1 ORDER BY score DESC, doc_id LIMIT $prfFeedbackDocs),
      ex AS (
        SELECT m.t FROM m JOIN fb USING (doc_id)
        WHERE m.t NOT IN ($termsSql)
        GROUP BY m.t ORDER BY CAST(SUM(m.tf) AS BIGINT) DESC, m.t LIMIT $prfExpandTerms),
      t2 AS (SELECT t FROM ex UNION ALL SELECT unnest([$termsSql]) AS t),
      s2 AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t) JOIN t2 USING (t) GROUP BY 1)
      SELECT doc_id, score_pp12,
             ROW_NUMBER() OVER (ORDER BY score_pp12 DESC, doc_id) AS rnk
      FROM s2 QUALIFY rnk <= $searchK
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Blocked fuzzy entity resolution over part names: candidate pairs
  // share a blocking key (last name token), match = edit distance <= 2.
  // The resolution runs at the NAME grain — the part table collapses to
  // its distinct names first (64 names for 2,000 rows at sf0.01; the
  // row-grain pairing would be 53,000 pairs and quadratic in duplicate
  // count at 100 TB, name-grain is quadratic only in the VOCABULARY
  // within a block). Row support per name is joined back after
  // matching. Both engines implement classic DP levenshtein — integer,
  // bit-identical.
  // ---------------------------------------------------------------------
  private val editMax = 2

  val entityResolution = Q(
    "t_entity_resolution",
    (s, d) => {
      import s.implicits._
      val names = Tables.part(s, d)
        .groupBy($"p_name").agg(count(lit(1)).as("n_rows"))
        .withColumn("blk", element_at(split($"p_name", " "), -1))
      val a = names.select($"blk", $"p_name".as("name_a"), $"n_rows".as("n_a"))
      val b = names.select($"blk", $"p_name".as("name_b"), $"n_rows".as("n_b"))
      // thresholded levenshtein: banded DP with early exit — O(k·n) per
      // pair instead of O(n²), and mismatches (the overwhelming
      // majority at scale) abandon as soon as the band exceeds k.
      // Returns the exact distance when <= k, -1 otherwise.
      a.join(b, "blk")
        .filter($"name_a" < $"name_b")
        .withColumn("dist",
          levenshtein($"name_a", $"name_b", editMax).cast("long"))
        .filter($"dist" >= 0)
        .select($"name_a", $"name_b", $"dist", $"n_a", $"n_b")
    },
    Some(s"""
      WITH names AS (
        SELECT p_name, COUNT(*) AS n_rows,
               string_split(p_name, ' ')[-1] AS blk
        FROM part GROUP BY 1),
      pairs AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
               a.n_rows AS n_a, b.n_rows AS n_b
        FROM names a JOIN names b
          ON a.blk = b.blk AND a.p_name < b.p_name)
      SELECT name_a, name_b, dist, n_a, n_b FROM pairs WHERE dist <= $editMax
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Stored inverted index — the artifact path (the text sibling of the
  // stored IVF-PQ index): postings are written PARTITIONED BY a term
  // hash bucket, so a query's terms prune to their buckets as parquet
  // partition filters and a search scans only the directories its
  // terms live in — the physical inverted-list layout. Term df stats
  // and the 1-row corpus count ride along as tiny side tables.
  // ---------------------------------------------------------------------
  private[queries] val indexBuckets = 64

  /** Driver-side twin of [[TextOps.h60]] (md5 hex prefix as a 60-bit
    * long) — needed to route QUERY terms to their stored buckets
    * without a Spark job; bucket parity is spec-pinned.
    */
  private[graft] def jvmH60(t: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** POSITIONAL posting rows for a docs frame: (doc_id, dl, t, tf,
    * positions, bucket). Positions are the term's 0-based token offsets
    * (sorted int array) — what [[phraseSearchFromIndex]] intersects;
    * they ride the same tokenize pass that already derives dl and tf,
    * so storing them costs no extra scan, only ~4 B/occurrence of
    * delta-friendly parquet (the standard positional-index trade every
    * production engine takes for phrase/proximity queries).
    */
  private def positionalPostings(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    docsDf
      .select($"doc_id", TextOps.toks.as("tk"))
      .withColumn("dl", size($"tk").cast("long"))
      .select($"doc_id", $"dl", posexplode($"tk"))
      .groupBy($"doc_id", $"dl", $"col".as("t"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list($"pos".cast("int"))).as("positions"))
      .withColumn("bucket", pmod(TextOps.h60($"t"), lit(indexBuckets.toLong)))
  }

  /** Materialize the index artifacts under `path`: bucket-partitioned
    * positional postings (doc_id, dl, t, tf, positions), the term df
    * table, and the corpus stats row (n_docs, total_tokens) — all under
    * the [[graft.sources.IndexManifest]] commit protocol (postings
    * append-only, terms/corpus rewrite-per-epoch; the manifest flip is
    * the commit point, and its format version fails old-layout readers
    * fast instead of letting a missing column surface as an opaque
    * schema error).
    *
    * Doc length is DENORMALIZED onto every posting row (the norms-file
    * alternative would make every ranked search re-join a corpus-sized
    * doclen table; 8 bytes/posting of RLE-friendly parquet is the
    * cheaper side of that trade) — it makes the stored index BM25-ready
    * ([[bm25SearchFromIndex]]) while tf-idf just ignores the column.
    */
  def writePostingsIndex(docsDf: DataFrame, path: String): Unit = {
    val s = docsDf.sparkSession
    import s.implicits._
    // the four epoch-0 components are independent writes under one
    // commit — overlapped so the small-file tails back-fill (guide §2.6;
    // the postings subtree recomputing concurrently in two of them is
    // the barrier-free trade the r21 light-token probe said to prefer
    // over a checkpoint here,
    // SCALING.md ("Round-21 (optimization round 1)")). Each task BUILDS
    // ITS OWN derived plan: two concurrent write commands must never
    // share a live plan instance at or above an exchange — sharing one
    // corrupts results under AQE (ProfRace3: shared-instance writes
    // diverge, per-task copies are clean over 40 trials;
    // eager-checkpointed ExistingRDD frames are exempt, having no
    // exchange to share; SCALING.md ("Round-22 (optimization round 2)")).
    // The empty tombstone epoch joins them from the declaration.
    val P = StoredIndex.Postings
    P.build(s, path)(
      "postings" -> (() => P.writeMain(positionalPostings(docsDf), path, 0L)),
      "terms" -> (() =>
        P.write(positionalPostings(docsDf)
          .groupBy($"t").agg(count(lit(1)).as("df"))
          .coalesce(1), path, "terms", 0L)),
      "corpus" -> (() =>
        P.write(docsDf
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(size(TextOps.toks).cast("long")), lit(0L)).as("total_tokens"))
          .coalesce(1), path, "corpus", 0L)))
  }

  /** Stage (but do NOT commit) epoch `e` of a postings append — the
    * arrivals' positional postings into `postings/epoch=e` (bucket
    * directories nested below), a full merged term-df copy into
    * `terms/epoch=e`, and the advanced corpus row into
    * `corpus/epoch=e`. All three writes are overwrite-mode into e's own
    * directories; readers stay on e-1 until the manifest flips.
    * Exposed for the atomicity spec, which kills the append here.
    */
  private[graft] def stagePostingsAppend(newDocs: DataFrame, path: String, e: Long): Unit = {
    val P = StoredIndex.Postings
    val s = newDocs.sparkSession
    import s.implicits._
    val postings = positionalPostings(newDocs)
      .localCheckpoint(true) // one pass feeds the append AND the df delta
    // the three stage writes read the materialized postings blocks (or
    // committed epoch e-1 components) — independent under one flip,
    // overlapped (guide §2.6)
    P.run(
      "postings" -> (() => P.writeMain(postings, path, e)),
      "terms" -> (() =>
        P.write(P.add(s, path, "terms", postings.groupBy($"t").agg(count(lit(1)).as("df")))
          .coalesce(1), path, "terms", e)),
      // Σ tf over the new postings == the arrivals' token count — the
      // corpus-total advance reuses the checkpointed pass, no re-tokenize
      "corpus" -> { () =>
        val old = P.read(s, path, "corpus").first()
        val add = postings
          .agg(countDistinct($"doc_id"), coalesce(sum($"tf"), lit(0L))).first()
        // doc-count advance counts ALL arrivals (a < 1-token doc posts
        // nothing but is still a corpus member)
        val nNew = newDocs.agg(count(lit(1))).first().getLong(0)
        assert(add.getLong(0) <= nNew)
        P.write(Seq((old.getLong(0) + nNew, old.getLong(1) + add.getLong(1)))
          .toDF("n_docs", "total_tokens")
          .coalesce(1), path, "corpus", e)
      })
  }

  /** Fold NEW docs into the stored postings index — the text-search
    * member of the index-append family (`TextOps.appendLshIndex`,
    * `VectorOps.appendIvfPqIndex`, `GraphOps.appendTransitionGraph`).
    * Caller contract: doc_ids are new (an already-indexed doc would
    * double its postings — dedup is the ingest filter's job, upstream
    * of indexing). Equal by construction to a union-corpus rebuild;
    * SearchOpsSpec pins search parity and artifact-recount equality.
    * Crash-atomic via [[graft.sources.IndexManifest]]: stage first,
    * manifest flip last; a failed append is invisible to readers and
    * its retry overwrites the orphan stage (no double-count).
    * Replay hazard (IndexManifest writer contract): retry idempotence
    * covers appends that crashed BEFORE the manifest flip; re-running
    * an append that already COMMITTED folds the same delta in twice.
    * The caller's ingest ledger must not re-feed committed batches.
    */
  def appendPostingsIndex(newDocs: DataFrame, path: String): Unit =
    StoredIndex.Postings.nextEpoch(path)(stagePostingsAppend(newDocs, path, _))

  /** Fold the accreted posting epochs into one bucket-partitioned
    * directory and raise the window floor (terms/corpus copied
    * forward). After N daily appends each bucket holds N small files
    * per epoch level; compaction restores the one-directory-per-bucket
    * layout searches prune into. The fold writes the RESOLVED postings
    * plus an empty tombstone epoch, so deletions become physical here
    * ([[graft.sources.StoredIndex.compact]]).
    */
  def compactPostingsIndex(s: SparkSession, path: String): Unit =
    StoredIndex.Postings.compact(s, path)

  /** Stage (but do NOT commit) a de-index epoch — for the kill drill. */
  private[queries] def stagePostingsDelete(ids: DataFrame, path: String, e: Long): Unit = {
    val P = StoredIndex.Postings
    val s = ids.sparkSession
    import s.implicits._
    val del = ids.select($"doc_id".cast("long")).distinct()
      .localCheckpoint(true) // feeds the tombstone write AND both stat fixes
    // the deleted docs' CURRENT postings (resolved view, before this
    // epoch) carry exactly the df/token mass the stats must give back
    val gone = P.resolved(s, path).join(del, "doc_id")
      .localCheckpoint(true)
    // tombstone write and both stat give-backs read the materialized
    // del/gone blocks — independent under one flip, overlapped (§2.6)
    P.run(
      "dels" -> (() => P.write(del, path, StoredIndex.Dels, e)),
      "terms" -> (() =>
        P.write(P.giveBack(s, path, "terms", gone.groupBy($"t").agg(count(lit(1)).as("df")))
          .coalesce(1), path, "terms", e)),
      "corpus" -> { () =>
        val old = P.read(s, path, "corpus").first()
        val sub = gone.agg(coalesce(sum($"tf"), lit(0L))).first().getLong(0)
        val nDel = del.count()
        P.write(Seq((old.getLong(0) - nDel, old.getLong(1) - sub))
          .toDF("n_docs", "total_tokens")
          .coalesce(1), path, "corpus", e)
      })
  }

  /** De-index documents — the search half of right-to-be-forgotten: the
    * ids land as a TOMBSTONE epoch (no rewrite of the corpus-sized
    * postings), every search immediately stops seeing them (postings
    * resolve minus tombstones), and the ranking STATS give back the
    * deleted docs' mass in the same epoch (df per term, doc count,
    * token total) so surviving docs score exactly as a rebuild-without-
    * them would — the parity the spec demands. Precedence is
    * epoch-ordered: a tombstone removes only posting rows from earlier
    * epochs, so delete-then-reindex (the corrected-document flow)
    * resolves to the new postings. [[compactPostingsIndex]] makes
    * removal physical.
    *
    * Caller contract: ids are LIVE corpus members — deleting an unknown
    * or already-deleted id would subtract its stats twice (the same
    * ledger discipline as the appenders' replay hazard). Crash-atomic
    * via the manifest: stage first, flip last.
    */
  def deleteFromPostingsIndex(ids: DataFrame, path: String): Unit =
    StoredIndex.Postings.nextEpoch(path)(stagePostingsDelete(ids, path, _))

  /** TF-IDF top-k against the STORED index — same ranking contract as
    * [[tfidfSearch]] (the parity spec pins it), but the posting scan is
    * pruned to the query terms' buckets via partition filters: at 100 TB
    * the postings table is corpus-sized while a query reads only
    * |terms| directories of it.
    */
  def tfidfSearchFromIndex(
      s: SparkSession, path: String, terms: Seq[String], k: Int): DataFrame = {
    import s.implicits._
    val buckets = terms.map(t => jvmH60(t) % indexBuckets).distinct
    val postings = StoredIndex.Postings.resolved(s, path)
      .filter($"bucket".isin(buckets: _*)) // parquet partition pruning
      .filter($"t".isin(terms: _*))
    val n = StoredIndex.Postings.read(s, path, "corpus").first().getLong(0)
    val df = StoredIndex.Postings.read(s, path, "terms")
      .filter($"t".isin(terms: _*))
      .withColumn("idf_ppm", expr(s"(${n}L * 1000000L) div df"))
    postings
      .join(broadcast(df.select($"t", $"idf_ppm")), "t")
      .groupBy($"doc_id")
      .agg(sum($"tf" * $"idf_ppm").as("score_ppm"))
      .orderBy($"score_ppm".desc, $"doc_id")
      .limit(k)
  }

  /** BM25 top-k against the STORED index — same ranking contract as
    * [[bm25Search]] (spec-pinned parity), with the same bucket pruning
    * as [[tfidfSearchFromIndex]]. Doc length comes straight off the
    * posting rows (denormalized at write time), so ranked retrieval
    * stays a |terms|-directory scan: no corpus-sized norms join.
    */
  def bm25SearchFromIndex(
      s: SparkSession, path: String, terms: Seq[String], k: Int,
      asOf: Option[Long] = None,
      keepIds: Option[DataFrame] = None): DataFrame =
    bm25ScoredFromIndex(s, path, terms, asOf, keepIds)
      .orderBy(col("score_pp12").desc, col("doc_id"))
      .limit(k)

  /** The BM25-scored docs for `terms` over the STORED index, UNRANKED —
    * (doc_id, score_pp12) for every matching doc: the shared kernel of
    * [[bm25SearchFromIndex]] (global top-k) and the batched hybrid's
    * per-request sparse leg. Scores are eligibility-INDEPENDENT by
    * design (idf/corpus stats stay global — a filter restricts who may
    * be served, it does not re-weight the language model), so a batch
    * of requests with different keep sets scores the corpus ONCE and
    * each request ranks its own filtered slice of this frame.
    */
  private def bm25ScoredFromIndex(
      s: SparkSession, path: String, terms: Seq[String],
      asOf: Option[Long] = None,
      keepIds: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val buckets = terms.map(t => jvmH60(t) % indexBuckets).distinct
    val postings0 = StoredIndex.Postings.resolved(s, path, asOf)
      .filter($"bucket".isin(buckets: _*)) // parquet partition pruning
      .filter($"t".isin(terms: _*))
    // eligibility pre-filter (the searchBqIndexWhere strategy, sparse
    // side): the semi-join lands on the term-pruned posting rows BEFORE
    // scoring, so the top-k is the top of the FILTERED corpus and no
    // ineligible doc is ever scored. Scores themselves are unchanged —
    // idf/corpus stats stay GLOBAL by design (eligibility restricts who
    // may be served, it does not re-weight the language model).
    val postings = keepIds.fold(postings0)(keep =>
      postings0.join(keep.select($"doc_id"), Seq("doc_id"), "left_semi"))
    // asOf pins stats AND postings to the same epoch — a consistent
    // snapshot (idf and postings can never mix generations)
    val stats = StoredIndex.Postings.read(s, path, "corpus", asOf).first()
    val (n, tl) = (stats.getAs[Long]("n_docs"), stats.getAs[Long]("total_tokens"))
    val df = StoredIndex.Postings.read(s, path, "terms", asOf)
      .filter($"t".isin(terms: _*))
      .withColumn("idf_ppm", expr(s"(${n}L * 1000000L) div df"))
    postings
      .join(broadcast(df.select($"t", $"idf_ppm")), "t")
      .withColumn("sat_pp6", expr(
        s"(22000000L * tf * ${tl}L) div (10L * tf * ${tl}L + 3L * ${tl}L + 9L * dl * ${n}L)"))
      .groupBy($"doc_id")
      .agg(sum($"idf_ppm" * $"sat_pp6").as("score_pp12"))
  }

  /** Exact-phrase top-k against the STORED index — the query class that
    * motivated positional postings: [[phraseSearch]]'s inline form
    * scans every doc's token array, while this reads ONLY the phrase
    * terms' bucket directories and intersects position lists. Per
    * phrase slot i, the slot's postings shift their positions by -i;
    * a doc's phrase occurrences are then exactly the positions common
    * to all slots, so `phrase_tf = |∩ shifted positions|` — computed
    * per doc after a |phrase|-way posting-list equi-join on doc_id
    * (each side pre-filtered to one term: the classic intersection
    * evaluation, never corpus-sized). Identical ranking contract to
    * [[phraseSearch]] (spec-pinned parity, including repeated-term
    * phrases, which reuse one term's postings in several slots).
    */
  def phraseSearchFromIndex(
      s: SparkSession, path: String, phrase: Seq[String], k: Int): DataFrame = {
    import s.implicits._
    require(phrase.nonEmpty, "empty phrase")
    val buckets = phrase.map(t => jvmH60(t) % indexBuckets).distinct
    val posts = StoredIndex.Postings.resolved(s, path)
      .filter($"bucket".isin(buckets: _*)) // parquet partition pruning
      .filter($"t".isin(phrase.distinct: _*))
      .select($"doc_id", $"t", $"positions")
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      posts.filter($"t" === t)
        .select($"doc_id",
          (if (i == 0) $"positions"
           else transform($"positions", p => p - lit(i))).as(s"pos_$i"))
    }
    val joined = slots.reduce((a, b) => a.join(b, "doc_id"))
    val inter = (1 until phrase.length).foldLeft(col("pos_0")) { (acc, i) =>
      array_intersect(acc, col(s"pos_$i"))
    }
    joined
      .withColumn("phrase_tf", size(inter).cast("long"))
      .filter($"phrase_tf" > 0L)
      .select($"doc_id", $"phrase_tf")
      .orderBy($"phrase_tf".desc, $"doc_id")
      .limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy($"phrase_tf".desc, $"doc_id")).cast("long"))
  }

  // ---------------------------------------------------------------------
  // Entity canonicalization — resolution's second half: fuzzy-match
  // pairs become CLUSTERS (min-label propagation over the match graph,
  // the same resolver discipline as t_neardup_clusters, here at the
  // name grain with lexicographic-min canonical names), and every name
  // maps to its cluster's canonical form — the master-data "golden
  // record" assignment. Six synchronous hops, exactly unrolled in the
  // oracle, so the result hashes even independently of convergence
  // analysis (typo blocks are stars/short chains — 6 hops is ample and
  // the spec checks full convergence on the fixture).
  // ---------------------------------------------------------------------
  private val canonRounds = 6

  val entityCanon = Q(
    "t_entity_canon",
    (s, d) => {
      import s.implicits._
      val names = Tables.part(s, d).select($"p_name").distinct()
        .withColumn("blk", element_at(split($"p_name", " "), -1))
      val a = names.select($"blk", $"p_name".as("name_a"))
      val b = names.select($"blk", $"p_name".as("name_b"))
      val pairs = a.join(b, "blk")
        .filter($"name_a" < $"name_b")
        .filter(levenshtein($"name_a", $"name_b", editMax) >= 0)
        .select($"name_a", $"name_b")
      val und = pairs.select($"name_a".as("v"), $"name_b".as("nbr"))
        .unionByName(pairs.select($"name_b".as("v"), $"name_a".as("nbr")))
        .localCheckpoint()
      var lbl = names.select($"p_name".as("v"), $"p_name".as("lbl"))
      for (i <- 1 to canonRounds) {
        val nbrMin = und
          .join(lbl.select($"v".as("nbr"), $"lbl".as("nlbl")), "nbr")
          .groupBy($"v").agg(min($"nlbl").as("nmin"))
        lbl = lbl.join(nbrMin, Seq("v"), "left")
          .select($"v", least($"lbl", coalesce($"nmin", $"lbl")).as("lbl"))
        if (i < canonRounds) lbl = lbl.localCheckpoint()
      }
      lbl.select($"v".as("name"), $"lbl".as("canon"))
    },
    Some {
      val rounds = (1 to canonRounds).map { i =>
        s"""l$i AS (
           |  SELECT l.v, LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
           |  FROM l${i - 1} l
           |  LEFT JOIN und ON und.v = l.v
           |  LEFT JOIN l${i - 1} n ON n.v = und.nbr
           |  GROUP BY l.v, l.lbl)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH names AS (
        SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk FROM part),
      pairs AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b
        FROM names a JOIN names b
          ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= $editMax),
      und AS (
        SELECT name_a AS v, name_b AS nbr FROM pairs
        UNION ALL SELECT name_b, name_a FROM pairs),
      l0 AS (SELECT p_name AS v, p_name AS lbl FROM names),
      $rounds
      SELECT v AS name, lbl AS canon FROM l$canonRounds
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Transposition-aware entity matching — t_entity_resolution with the
  // HUMAN-typo edit model: `dl_distance`, the custom codegen'd
  // Damerau-Levenshtein expression (Spark has no built-in; the
  // transposed "wdiget" is 1 DL edit but 2 plain edits). Emitting BOTH
  // distances per blocked pair hash-gates the custom expression's every
  // output value against DuckDB's independent damerau_levenshtein
  // implementation — the strongest cross-engine check a custom
  // Expression can get.
  // ---------------------------------------------------------------------
  val entityTypos = Q(
    "t_entity_typos",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.registerDlDistance(s)
      val names = Tables.part(s, d).select($"p_name").distinct()
        .withColumn("blk", element_at(split($"p_name", " "), -1))
      val a = names.select($"blk", $"p_name".as("name_a"))
      val b = names.select($"blk", $"p_name".as("name_b"))
      a.join(b, "blk")
        .filter($"name_a" < $"name_b")
        .withColumn("lev", levenshtein($"name_a", $"name_b").cast("long"))
        .withColumn("dl", expr("CAST(dl_distance(name_a, name_b) AS BIGINT)"))
        .filter($"dl" <= editMax)
        .select($"name_a", $"name_b", $"lev", $"dl")
    },
    Some(s"""
      WITH names AS (
        SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk FROM part)
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
             CAST(damerau_levenshtein(a.p_name, b.p_name) AS BIGINT) AS dl
      FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE damerau_levenshtein(a.p_name, b.p_name) <= $editMax
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Ranking-quality audit — the eval harness every retrieval stack runs
  // before trusting a ranker change: each standing term is a single-term
  // query, relevance is data-derived (tf >= mrrRelTf — heavy users of
  // the term), and the ranker under audit is the BM25 saturation order.
  // Per query: hit counts at 10/15, first relevant rank, reciprocal
  // rank and precision@10 — all exact integers (rr in ppm via integer
  // division, never a float). Scale shape: the postings projection
  // (already term-filtered at the scan) feeds one per-term rank window
  // (partitioned by term — spillable, never SinglePartition) and two
  // tiny per-term aggs; output is |terms| rows.
  // ---------------------------------------------------------------------

  private val mrrRelTf = 3L

  val searchMrr = Q(
    "t_search_mrr",
    (s, d) => {
      import s.implicits._
      val posts = probedPostingsWithLen(s, d)
      val (tl, n) = corpusStats(s, d)
      val w = Window.partitionBy($"t").orderBy($"sat_pp6".desc, $"doc_id".asc)
      val ranked = posts
        .withColumn("sat_pp6", expr(
          s"(22000000L * tf * ${tl}L) div (10L * tf * ${tl}L + 3L * ${tl}L + 9L * dl * ${n}L)"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= searchK)
        .withColumn("rel", ($"tf" >= mrrRelTf).cast("long"))
      val nRel = posts.filter($"tf" >= mrrRelTf)
        .groupBy($"t").agg(count(lit(1)).as("n_rel"))
      ranked.groupBy($"t")
        .agg(
          sum($"rel").as("n_hits15"),
          sum(when($"rnk" <= 10L, $"rel").otherwise(lit(0L))).as("n_hits10"),
          coalesce(min(when($"rel" === 1L, $"rnk")), lit(0L)).as("first_rank"))
        .join(nRel, Seq("t"), "left")
        .select($"t".as("term"),
          coalesce($"n_rel", lit(0L)).as("n_rel"),
          $"n_hits15", $"n_hits10", $"first_rank",
          expr("CASE WHEN first_rank > 0 THEN 1000000L div first_rank ELSE 0L END")
            .as("rr_ppm"),
          ($"n_hits10" * lit(100000L)).as("prec10_ppm"))
    },
    Some(s"""
      WITH $oracleBm25Core,
      ranked AS (
        SELECT m.doc_id, m.t, m.tf,
               ROW_NUMBER() OVER (PARTITION BY m.t ORDER BY $oracleSat DESC, m.doc_id) AS rnk
        FROM m JOIN c ON TRUE WHERE m.t IN ($termsSql) QUALIFY rnk <= $searchK),
      relc AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS n_rel FROM m
        WHERE t IN ($termsSql) AND tf >= $mrrRelTf GROUP BY 1),
      agg AS (
        SELECT t,
               CAST(SUM(CASE WHEN tf >= $mrrRelTf THEN 1 ELSE 0 END) AS BIGINT) AS n_hits15,
               CAST(SUM(CASE WHEN rnk <= 10 AND tf >= $mrrRelTf THEN 1 ELSE 0 END) AS BIGINT) AS n_hits10,
               CAST(COALESCE(MIN(CASE WHEN tf >= $mrrRelTf THEN rnk END), 0) AS BIGINT) AS first_rank
        FROM ranked GROUP BY 1)
      SELECT a.t AS term, CAST(COALESCE(r.n_rel, 0) AS BIGINT) AS n_rel,
             a.n_hits15, a.n_hits10, a.first_rank,
             CAST(CASE WHEN a.first_rank > 0 THEN 1000000 // a.first_rank ELSE 0 END AS BIGINT) AS rr_ppm,
             a.n_hits10 * 100000 AS prec10_ppm
      FROM agg a LEFT JOIN relc r ON a.t = r.t
    """.stripMargin.trim),
  )

  /** The de-index path hash-gated end to end: index the full corpus,
    * FORGET every 13th-mod-5 document, rank the standing query through
    * the stored index. The oracle recomputes BM25 from scratch on the
    * corpus minus the deleted docs, so an unapplied tombstone, a
    * missed df give-back, or an uncorrected corpus stat all surface as
    * a hash (not just rank) mismatch.
    */
  val bm25Forget = Q(
    "t_bm25_forget",
    (s, d) => {
      import s.implicits._
      // deployed-fleet stand-in: build + forget run once per (JVM,
      // corpus) — erase once, search many; the tombstone-resolved
      // SEARCH is what the oracle gates
      val dir = graft.sources.Scratch.cached(s"bm25-forget:$d", "graft-postings-forget") { p =>
        writePostingsIndex(docs(s, d), p)
        deleteFromPostingsIndex(
          docs(s, d).filter($"doc_id" % 13 === 5).select($"doc_id"), p)
      }
      bm25SearchFromIndex(s, dir, queryTerms, searchK)
        .withColumn("rnk",
          row_number().over(Window.orderBy($"score_pp12".desc, $"doc_id")).cast("long"))
    },
    Some(s"""
      WITH ${oracleBm25CoreFrom(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5) AS df0")},
      scored AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t) WHERE m.t IN ($termsSql) GROUP BY 1)
      SELECT doc_id, score_pp12,
             ROW_NUMBER() OVER (ORDER BY score_pp12 DESC, doc_id) AS rnk
      FROM scored QUALIFY rnk <= $searchK
    """.stripMargin.trim),
  )

  /** Index time travel hash-gated end to end: build the base split
    * (epoch 0), fold the delta in (epoch 1), then search AS-OF epoch 0
    * — the ranking must be the pre-append one, idf and postings pinned
    * to the same past snapshot. The reproducibility primitive: a
    * training run records the epoch it read, and an audit months later
    * re-runs the exact retrieval against today's (appended-to) index.
    * The oracle recomputes BM25 over the base split from scratch, so a
    * reader that leaks any delta posting (or scores with the advanced
    * idf) hash-mismatches.
    */
  val bm25AsOf = Q(
    "t_bm25_asof",
    (s, d) => {
      import s.implicits._
      // deployed-fleet stand-in: the two-epoch history builds once per
      // (JVM, corpus); the AS-OF READ is what the oracle gates
      val dir = graft.sources.Scratch.cached(s"bm25-asof:$d", "graft-postings-asof") { p =>
        writePostingsIndex(docs(s, d).filter($"doc_id" % 10 =!= 3), p)
        appendPostingsIndex(docs(s, d).filter($"doc_id" % 10 === 3), p)
      }
      bm25SearchFromIndex(s, dir, queryTerms, searchK, asOf = Some(0L))
        .withColumn("rnk",
          row_number().over(Window.orderBy($"score_pp12".desc, $"doc_id")).cast("long"))
    },
    Some(s"""
      WITH ${oracleBm25CoreFrom(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3) AS df0")},
      scored AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t) WHERE m.t IN ($termsSql) GROUP BY 1)
      SELECT doc_id, score_pp12,
             ROW_NUMBER() OVER (ORDER BY score_pp12 DESC, doc_id) AS rnk
      FROM scored QUALIFY rnk <= $searchK
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Hybrid retrieval from STORED indexes — production RAG's steady
  // state: the postings index and the IVF-PQ index both live on disk
  // with their own epoch histories, a query fans out to both, and RRF
  // fuses the two rank lists (t_rrf_fusion's exact-ppm rule). Both legs
  // take independent as-of pins, so a recorded (sparse_epoch,
  // dense_epoch) pair replays the exact retrieval months later even
  // after both indexes grew — the hybrid extension of the t_bm25_asof /
  // v_ivfpq_asof reproducibility primitive.
  //
  // 100 TB shape: strictly the two verified stored-search plans (bucket-
  // pruned postings scan; probed-cell-pruned ADC scan) feeding a
  // k-bounded full-outer fuse — both lists are <= pool rows before any
  // rank window, so fusion cost is independent of corpus size.
  // ---------------------------------------------------------------------

  /** Fuse stored-index BM25 and stored-index IVF-PQ ADC rankings by
    * reciprocal rank. `probe` is one (query_id, embedding) row; ids
    * share the doc/vec id space (the corpus convention). Each leg's
    * as-of pin travels independently — sparse and dense indexes commit
    * on their own cadences.
    */
  def hybridSearchFromIndexes(
      s: SparkSession, postingsPath: String, ivfPqPath: String,
      terms: Seq[String], probe: DataFrame, k: Int,
      asOfSparse: Option[Long] = None, asOfDense: Option[Long] = None,
      keepIds: Option[DataFrame] = None,
      excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    // `keepIds` (a doc_id/vec_id frame — the corpus convention shares
    // the id space) pre-filters BOTH legs, so the WHOLE retrieval
    // matrix filters: the postings side semi-joins before BM25 scoring,
    // the dense side semi-joins the cell-pruned codes before ADC — an
    // id the filter excludes can reach the fusion through neither leg,
    // and both rank lists are ranks over the FILTERED corpus (fusing
    // one filtered and one unfiltered leg would leak excluded ids back
    // in through RRF).
    val sparse = bm25SearchFromIndex(s, postingsPath, terms, fusionPool, asOfSparse,
        keepIds)
      .withColumn("rank_sparse",
        row_number().over(Window.orderBy($"score_pp12".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"rank_sparse")
    // excludeSelf follows the family convention (VectorOps.searchBqIndex,
    // hybridSearchBatchFromIndexes): default true = corpus-panel
    // semantics (the oracle rows'); a SERVING request whose id space is
    // its own passes false, or a numeric collision with a stored vec_id
    // silently drops that legitimate dense candidate
    val dense = VectorOps.ivfPqSearchFromIndex(s, ivfPqPath, probe, asOfDense,
        excludeSelf = excludeSelf,
        keepIds = keepIds.map(_.select($"doc_id".as("vec_id"))))
      .select($"cand_id".as("doc_id"), $"rnk".as("rank_dense"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppm", expr(
        s"coalesce(1000000L div (${rrfC}L + rank_sparse), 0L) + " +
          s"coalesce(1000000L div (${rrfC}L + rank_dense), 0L)"))
      .orderBy($"rrf_ppm".desc, $"doc_id")
      .limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy($"rrf_ppm".desc, $"doc_id")).cast("long"))
      .select($"doc_id",
        coalesce($"rank_sparse", lit(-1L)).as("rank_sparse"),
        coalesce($"rank_dense", lit(-1L)).as("rank_dense"),
        $"rrf_ppm", $"rnk")
  }

  /** BATCHED hybrid retrieval with PER-REQUEST eligibility — the last
    * per-request filtering gap closed: `hybridSearchFromIndexes` takes
    * only a corpus-global `keepIds`, so two same-batch requests with
    * different tenant/language filters had to forfeit batching (the
    * exact gap `v_filtered_pairs` closed for the cascade). Here the
    * (query_id, doc_id) `keepPairs` relation threads BOTH stored legs:
    *
    *   - sparse: the corpus is BM25-scored ONCE for the shared term
    *     set ([[bm25ScoredFromIndex]] — scores are filter-independent
    *     by design), then each request equi-joins its own keep slice
    *     and ranks it (`rank_sparse` is a rank over THAT request's
    *     filtered corpus, never a post-filter of a global top list);
    *   - dense: the pairs ride [[graft.queries.VectorOps
    *     .ivfPqSearchFromIndex]]'s keepPairs semi-join, landing before
    *     the ADC fan-out — no distance term is summed for an
    *     ineligible (query, id) pair;
    *
    * then per-request RRF fusion (rank windows partitioned by
    * query_id). Absent-request contract as everywhere
    * ([[graft.queries.VectorOps.keepPairsFrom]]): a query_id missing
    * from the relation is served zero candidates. As-of pins travel
    * independently per leg, as in the single-request form.
    *
    * 100 TB shape: one bucket-pruned postings scan regardless of batch
    * size; pairs joins are keyed on doc_id / (query_id, cand_id) —
    * never corpus x batch; fusion is <= pool rows per request.
    */
  def hybridSearchBatchFromIndexes(
      s: SparkSession, postingsPath: String, ivfPqPath: String,
      terms: Seq[String], probes: DataFrame, k: Int,
      keepPairs: DataFrame,
      asOfSparse: Option[Long] = None, asOfDense: Option[Long] = None,
      excludeSelf: Boolean = true): DataFrame = {
    import s.implicits._
    // the relation is bounded to THIS batch's requests before anything
    // else: a STANDING eligibility relation (the deployment shape)
    // covers every query_id the tenant ever issued, and without the
    // semi-join the sparse leg would rank — and the fuse would emit —
    // rows for requests that are not in the batch at all
    val pairs = keepPairs.select($"query_id", $"doc_id")
      .dropDuplicates("query_id", "doc_id")
      .join(probes.select($"query_id"), Seq("query_id"), "left_semi")
    val wS = Window.partitionBy($"query_id").orderBy($"score_pp12".desc, $"doc_id")
    val sparse = bm25ScoredFromIndex(s, postingsPath, terms, asOfSparse)
      .join(pairs, Seq("doc_id"))
      .withColumn("rank_sparse", row_number().over(wS).cast("long"))
      .filter($"rank_sparse" <= fusionPool)
      .select($"query_id", $"doc_id", $"rank_sparse")
    // excludeSelf follows the family convention (VectorOps.searchBqIndex):
    // corpus-panel queries share the index id space and must not match
    // themselves (default, the oracle rows' semantics); a SERVING
    // request's ids are their own space — pass false, or a numeric
    // collision silently drops a legitimate dense candidate. The sparse
    // leg has no self notion (doc ids only).
    val dense = VectorOps.ivfPqSearchFromIndex(s, ivfPqPath, probes, asOfDense,
        excludeSelf = excludeSelf,
        keepPairs = Some(pairs.select($"query_id", $"doc_id".as("vec_id"))))
      .select($"query_id", $"cand_id".as("doc_id"), $"rnk".as("rank_dense"))
    val wF = Window.partitionBy($"query_id").orderBy($"rrf_ppm".desc, $"doc_id")
    sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_ppm", expr(
        s"coalesce(1000000L div (${rrfC}L + rank_sparse), 0L) + " +
          s"coalesce(1000000L div (${rrfC}L + rank_dense), 0L)"))
      .withColumn("rnk", row_number().over(wF).cast("long"))
      .filter($"rnk" <= k)
      .select($"query_id", $"doc_id",
        coalesce($"rank_sparse", lit(-1L)).as("rank_sparse"),
        coalesce($"rank_dense", lit(-1L)).as("rank_dense"),
        $"rrf_ppm", $"rnk")
  }

  /** Both stored indexes built, then fused — the oracle recomputes each
    * leg from scratch (full BM25 core; full IVF-PQ pipeline with the
    * probe as the panel) and applies the same exact-integer RRF, so any
    * divergence in either stored leg or the fuse hash-mismatches.
    */
  val hybridFromIndex = Q(
    "t_hybrid_from_index",
    (s, d) => {
      import s.implicits._
      // deployed-fleet stand-in (Scratch.cached): both indexes build
      // once per (JVM, corpus), the row serves from them — the search
      // path is what the oracle gates, not the build
      val pdir = graft.sources.Scratch.cached(s"hybrid-post:$d", "graft-hybrid-post") {
        p => writePostingsIndex(docs(s, d), p)
      }
      val vdir = graft.sources.Scratch.cached(s"hybrid-ivfpq:$d", "graft-hybrid-ivfpq") {
        p => VectorOps.writeIvfPqIndex(Tables.embeddings(s, d), p)
      }
      val probe = Tables.embeddings(s, d)
        .filter($"vec_id" === probeId)
        .select($"vec_id".as("query_id"), $"embedding")
      hybridSearchFromIndexes(s, pdir, vdir, queryTerms, probe, fusionK)
    },
    Some(s"""
      WITH $oracleBm25Core,
      scored AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t) WHERE m.t IN ($termsSql) GROUP BY 1),
      sp AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_pp12 DESC, doc_id) AS rank_sparse
        FROM scored QUALIFY rank_sparse <= $fusionPool),
      ${VectorOps.oIvfPqCtesFrom("embeddings", s"vec_id = $probeId")},
      dn AS (
        SELECT cand_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY adc_micros ASC, cand_id ASC) AS rank_dense
        FROM adc QUALIFY rank_dense <= ${VectorOps.topK}),
      f AS (
        SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
               sp.rank_sparse, dn.rank_dense,
               COALESCE(1000000 // ($rrfC + sp.rank_sparse), 0)
                 + COALESCE(1000000 // ($rrfC + dn.rank_dense), 0) AS rrf_ppm
        FROM sp FULL JOIN dn ON sp.doc_id = dn.doc_id)
      SELECT doc_id,
             COALESCE(rank_sparse, -1) AS rank_sparse,
             COALESCE(rank_dense, -1) AS rank_dense,
             CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
             ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM f QUALIFY rnk <= $fusionK
    """.stripMargin.trim),
  )

  /** FILTERED hybrid retrieval — the last serving surface without the
    * eligibility pre-filter, closed: one keep set (the pushed-down
    * documents predicate) threads BOTH stored legs, so the whole
    * retrieval matrix filters. The oracle recomputes both legs from
    * scratch with the same keep relation inside each leg's candidate
    * step (sparse: before BM25 scoring; dense: before ADC) and fuses
    * with the exact-integer RRF — a filter applied post-fusion (or to
    * only one leg) produces different ranks and hash-mismatches.
    */
  val hybridFiltered = Q(
    "t_hybrid_filtered",
    (s, d) => {
      import s.implicits._
      val pdir = graft.sources.Scratch.cached(s"hybrid-post:$d", "graft-hybrid-post") {
        p => writePostingsIndex(docs(s, d), p)
      }
      val vdir = graft.sources.Scratch.cached(s"hybrid-ivfpq:$d", "graft-hybrid-ivfpq") {
        p => VectorOps.writeIvfPqIndex(Tables.embeddings(s, d), p)
      }
      val probe = Tables.embeddings(s, d)
        .filter($"vec_id" === probeId)
        .select($"vec_id".as("query_id"), $"embedding")
      val keep = Tables.documents(s, d).filter($"lang" === "en")
        .select($"doc_id")
      hybridSearchFromIndexes(s, pdir, vdir, queryTerms, probe, fusionK,
        keepIds = Some(keep))
    },
    Some(s"""
      WITH keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      $oracleBm25Core,
      scored AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t) JOIN keep kp ON kp.doc_id = m.doc_id
        WHERE m.t IN ($termsSql) GROUP BY 1),
      sp AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_pp12 DESC, doc_id) AS rank_sparse
        FROM scored QUALIFY rank_sparse <= $fusionPool),
      ${VectorOps.oIvfPqCtesFrom("embeddings", s"vec_id = $probeId",
        candPred = "a.cand_id IN (SELECT doc_id FROM keep)")},
      dn AS (
        SELECT cand_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY adc_micros ASC, cand_id ASC) AS rank_dense
        FROM adc QUALIFY rank_dense <= ${VectorOps.topK}),
      f AS (
        SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
               sp.rank_sparse, dn.rank_dense,
               COALESCE(1000000 // ($rrfC + sp.rank_sparse), 0)
                 + COALESCE(1000000 // ($rrfC + dn.rank_dense), 0) AS rrf_ppm
        FROM sp FULL JOIN dn ON sp.doc_id = dn.doc_id)
      SELECT doc_id,
             COALESCE(rank_sparse, -1) AS rank_sparse,
             COALESCE(rank_dense, -1) AS rank_dense,
             CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
             ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM f QUALIFY rnk <= $fusionK
    """.stripMargin.trim),
  )

  /** PER-REQUEST filtered hybrid, hash-gated with the adversarial
    * disjoint-keep-sets construction (`v_filtered_pairs`' shape, on the
    * hybrid surface): TWO same-batch requests, each allowed to see only
    * its own parity's doc ids — so every id is exactly one request's
    * candidate and the other's exclusion, and any cross-request filter
    * leakage (a global filter, a post-fusion filter, a leg filtered for
    * the wrong request) hash-mismatches. The pairs relation is built
    * through the declarative front door ([[graft.queries.VectorOps
    * .keepPairsFrom]], derived-key equi-join — no corpus x batch
    * cross); the oracle recomputes both legs from scratch with the
    * parity predicate INSIDE each leg's candidate step and fuses with
    * the exact-integer per-request RRF.
    */
  val hybridPairs = Q(
    "t_hybrid_pairs",
    (s, d) => {
      import s.implicits._
      val pdir = graft.sources.Scratch.cached(s"hybrid-post:$d", "graft-hybrid-post") {
        p => writePostingsIndex(docs(s, d), p)
      }
      val vdir = graft.sources.Scratch.cached(s"hybrid-ivfpq:$d", "graft-hybrid-ivfpq") {
        p => VectorOps.writeIvfPqIndex(Tables.embeddings(s, d), p)
      }
      val probes = Tables.embeddings(s, d)
        .filter($"vec_id" < 2L) // one even, one odd request
        .select($"vec_id".as("query_id"), $"embedding")
      val attrs = Tables.documents(s, d).select($"doc_id".as("vec_id"))
      val pairs = VectorOps.keepPairsFrom(
          probes, attrs, probes("query_id") % 2 === attrs("vec_id") % 2)
        .select($"query_id", $"vec_id".as("doc_id"))
      hybridSearchBatchFromIndexes(
        s, pdir, vdir, queryTerms, probes, fusionK, keepPairs = pairs)
    },
    Some(s"""
      WITH keepq AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 2),
      $oracleBm25Core,
      scored AS (
        SELECT m.doc_id, CAST(SUM(dfa.idf_ppm * $oracleSat) AS BIGINT) AS score_pp12
        FROM m JOIN dfa USING (t) WHERE m.t IN ($termsSql) GROUP BY 1),
      sp AS (
        SELECT kq.query_id, sc.doc_id,
               ROW_NUMBER() OVER (PARTITION BY kq.query_id
                 ORDER BY sc.score_pp12 DESC, sc.doc_id) AS rank_sparse
        FROM scored sc JOIN keepq kq ON (kq.query_id % 2) = (sc.doc_id % 2)
        QUALIFY rank_sparse <= $fusionPool),
      ${VectorOps.oIvfPqCtesFrom("embeddings", "vec_id < 2",
        candPred = "(p.query_id % 2) = (a.cand_id % 2)")},
      dn AS (
        SELECT query_id, cand_id AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc_micros ASC, cand_id ASC) AS rank_dense
        FROM adc QUALIFY rank_dense <= ${VectorOps.topK}),
      f AS (
        SELECT COALESCE(sp.query_id, dn.query_id) AS query_id,
               COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
               sp.rank_sparse, dn.rank_dense,
               COALESCE(1000000 // ($rrfC + sp.rank_sparse), 0)
                 + COALESCE(1000000 // ($rrfC + dn.rank_dense), 0) AS rrf_ppm
        FROM sp FULL JOIN dn
          ON sp.query_id = dn.query_id AND sp.doc_id = dn.doc_id)
      SELECT query_id, doc_id,
             COALESCE(rank_sparse, -1) AS rank_sparse,
             COALESCE(rank_dense, -1) AS rank_dense,
             CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_ppm DESC, doc_id) AS rnk
      FROM f QUALIFY rnk <= $fusionK
    """.stripMargin.trim),
  )

  val qs: Seq[Q] = Seq(
    boolSearch, tfidfSearch, bm25Search, rrfFusion, prfExpand, phraseSearch,
    proximitySearch, entityResolution, entityCanon, entityTypos, searchMrr,
    bm25Forget, bm25AsOf, hybridFromIndex, hybridFiltered, hybridPairs)
}
