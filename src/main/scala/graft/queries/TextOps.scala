package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{StoredIndex, Tables}

/** Text-analysis + deduplication query pack over the `documents` table —
  * the training-data-pipeline operators (token counting, language ID,
  * quality scoring, exact/near dedup via MinHash-LSH, n-gram Jaccard,
  * SimHash fingerprinting) layered on the same engine surface as the
  * reference's analytics jobs.
  *
  * Cross-engine determinism rules (everything here hash-matches a DuckDB
  * oracle):
  *   - tokens = non-empty substrings of `split(text, ' ')` — Spark keeps
  *     trailing empties (limit -1) and DuckDB's string_split does too, and
  *     both sides drop them with a lambda filter, so token lists agree.
  *   - all hashing is md5 (identical lowercase hex in both engines); 60-bit
  *     integer hashes take the first 15 hex chars so the value fits a signed
  *     64-bit int in both engines (Spark `conv(_,16,10)`, DuckDB
  *     `('0x'||_)::UBIGINT`).
  *   - outputs are integers/strings only; ratio-like scores are
  *     `floor(100 * a / b)` over small-int doubles (bit-identical IEEE).
  *
  * Scale notes (100 TB): every operator is a per-row projection followed by
  * hash aggregation or an equi-join on a derived key (hash, band, shingle) —
  * no cross join anywhere. The pairwise steps (Jaccard, candidate
  * verification) only materialize pairs that share a band/shingle bucket,
  * which is the standard LSH scale path; bucket skew is handled by AQE.
  */
object TextOps {

  /** Non-empty tokens of a single-space-separated text. */
  private[graft] val toks: Column = expr("filter(split(text, ' '), x -> x != '')")

  /** 60-bit deterministic hash of a string column (see class docs). */
  private[queries] def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** Word 3-gram shingles (distinct) over a pre-materialized token column —
    * the dedup unit for MinHash/Jaccard. The token array MUST be a real
    * column (see [[withShingles]]): inlining the split+filter inside the
    * per-index lambda would re-tokenize the document once per element
    * access, turning a linear projection into O(tokens²) per row.
    * `element_at` is 1-based like DuckDB's list indexing.
    */
  private val shinglesOfTk: Column = expr(
    // the CASE guard, not greatest(): Spark's sequence(1, 0) DESCENDS
    // ([1, 0]) where DuckDB's generate_series(1, 0) is empty, so the
    // greatest(size - 2, 0) form still built [1, 0] on a < 3-token doc
    // and element_at(tk, 3) crashed the whole query — empty array
    // matches the oracle's no-rows-after-unnest exactly
    """CASE WHEN size(tk) >= 3 THEN array_distinct(transform(
      |  sequence(1, size(tk) - 2),
      |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))))
      |ELSE CAST(array() AS array<string>) END""".stripMargin)

  /** Fan the input of a shingle+signature stage out to (at least) the
    * session's parallelism, bypassing AQE's size-based coalescing. The
    * signature stage runs 12 md5 evaluations per shingle — cost scales
    * with ROWS, while AQE coalesces on BYTES: a few MB of deduped text
    * looks tiny, gets squeezed to one or two tasks, and the most CPU-dense
    * stage in the engine serializes. An explicit REPARTITION_BY_NUM is
    * exempt from AQE coalescing, so this repartition is deliberately
    * UNCONDITIONAL for post-shuffle inputs — the static plan width is
    * already >= `want`, but AQE would re-squeeze it at runtime. The target
    * width is read from session conf, never via `df.rdd` — under AQE,
    * `Dataset.rdd` materializes every upstream exchange as real jobs at
    * DataFrame-CONSTRUCTION time (the dedup window would run once extra
    * and be thrown away). Measured: t_neardup_post_dedup 2.4 s → 0.9 s at
    * sf0.1.
    */
  private[queries] def fanOutCpu(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val want = math.max(
      s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    df.repartition(want)
  }

  /** Exact-dedup survivors: the first doc_id of every distinct text (md5
    * hash window), full column set — the shared head of every composed
    * dedup-first pipeline. Downstream projections prune the columns they
    * don't use.
    */
  private[queries] def dedupSurvivors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keepW = Window.partitionBy($"text_hash").orderBy($"doc_id")
    docs(s, d)
      .withColumn("text_hash", md5($"text"))
      .withColumn("rk", row_number().over(keepW))
      .filter($"rk" === 1)
      .select($"doc_id", $"lang", $"source", $"text")
  }

  /** survivors frame → (doc_id, sh) shingle rows, fanned out for the
    * CPU-dense signature/join stages ([[fanOutCpu]]).
    */
  private def shinglesOf(survivors: DataFrame): DataFrame = {
    fanOutCpu(survivors.select(col("doc_id"), col("text")))
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(shinglesOfTk).as("sh"))
  }

  /** [[dedupSurvivors]] → shingle rows — the single-consumer composition
    * (the dedup window runs once, so no materialization is needed).
    */
  private def survivorShingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(dedupSurvivors(s, d))

  /** documents → (doc_id, sh) with one row per distinct shingle.
    *
    * The scan is fanned out to the session's parallelism first: shingling
    * plus 12 md5 evaluations per shingle is the most CPU-dense per-row
    * work in the engine, and a single-row-group input would otherwise run
    * ALL of it inside the one-task scan stage (the signature aggregation
    * is partial-agg'd in the same stage as the scan). This is the one
    * place where the fan-out exchange measured faster — a blanket
    * scan-side fan-out made every other query slower,
    * SCALING.md ("Round-3 findings: three measured optimizations");
    * on a multi-row-group table the repartition is skipped entirely.
    */
  private[queries] def docShingles(s: SparkSession, d: String): DataFrame =
    shinglesOfDf(fannedDocs(s, d))

  /** Shingle rows of any (doc_id, text) frame — the [[docShingles]] core,
    * exposed so property specs can drive planted corpora through the real
    * consumers (contamination, LSH).
    */
  private[queries] def shinglesOfDf(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("tk", toks)
      .select(col("doc_id"), explode(shinglesOfTk).as("sh"))

  /** (doc_id, text) with the scan fanned out when parallelism-deficient —
    * shared entry for every hash-per-token pipeline (see [[docShingles]];
    * `fannedDocsOf` is the cross-pack alias CurationOps wires through).
    */
  private[queries] def fannedDocsOf(s: SparkSession, d: String): DataFrame = fannedDocs(s, d)

  private def fannedDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = docs(s, d).select($"doc_id", $"text")
    val want = s.sparkContext.defaultParallelism
    // The `.rdd` width probe is only safe while this subtree is
    // exchange-free (scan + projection): under AQE, `Dataset.rdd` on a
    // plan WITH exchanges materializes them as real jobs at
    // DataFrame-construction time (the hazard fanOutCpu documents). Guard
    // it structurally — if Tables.documents ever grows a shuffle, fan out
    // unconditionally instead of probing.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LeafNode, Project}
    val scanOnly = base.queryExecution.optimizedPlan.find {
      case _: Project | _: LFilter | _: LeafNode => false
      case _ => true
    }.isEmpty
    if (!scanOnly) base.repartition(want)
    else if (base.rdd.getNumPartitions < want) base.repartition(want)
    else base
  }

  private[queries] val oracleToks =
    "list_filter(string_split(text, ' '), x -> x != '')"

  /** Word bigrams over a pre-materialized token column `tk` — shared by
    * t_repetition and t_collocations. Guard the consumer with
    * `size(tk) >= 2`: Spark's sequence(1, 0) DESCENDS ([1, 0]) where
    * DuckDB's generate_series(1, 0) is empty.
    */
  private[queries] val bigramsOfTk: Column = expr(
    """transform(sequence(1, size(tk) - 1),
      |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))""".stripMargin)

  /** DuckDB equivalent of [[bigramsOfTk]] over a `tk` list column (safe on
    * tiny docs as-is — generate_series(1, 0) is already empty in DuckDB).
    */
  private[queries] val oracleBigramsOfTk: String =
    "list_transform(generate_series(1, greatest(len(tk) - 1, 0)), i -> tk[i] || ' ' || tk[i+1])"

  /** DuckDB equivalent of [[shinglesOfTk]]. */
  private[queries] val oracleShingles =
    s"""list_distinct(list_transform(
       |  generate_series(1, greatest(len($oracleToks) - 2, 0)),
       |  i -> $oracleToks[i] || ' ' || $oracleToks[i+1] || ' ' || $oracleToks[i+2]))""".stripMargin

  /** DuckDB mirror of [[dedupSurvivors]] + [[survivorShingles]]: the
    * `survivors`/`sh` CTE pair shared by every composed dedup-first oracle.
    */
  private[queries] lazy val oracleSurvivorsCte: String =
    s"""survivors AS (
      |        SELECT doc_id, lang, source, text FROM (
      |          SELECT doc_id, lang, source, text,
      |                 ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
      |          FROM documents) WHERE rk = 1),
      |      sh AS (
      |        SELECT doc_id, unnest($oracleShingles) AS sh FROM survivors)""".stripMargin

  // ---------------------------------------------------------------------
  // Token counting / corpus statistics.
  // ---------------------------------------------------------------------

  /** Per-(lang, source) corpus stats: docs, token totals, char bounds.
    * Pure scan→partial agg→final agg; the 100 TB plan is one shuffle of
    * one row per (lang, source).
    */
  val textStats = Q(
    "t_text_stats",
    (s, d) => {
      import s.implicits._
      docs(s, d)
        .select(
          $"lang",
          $"source",
          $"n_chars",
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
        )
        .groupBy($"lang", $"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("sum_tokens"),
          sum($"n_distinct").as("sum_distinct"),
          min($"n_chars").as("min_chars"),
          max($"n_chars").as("max_chars"),
        )
    },
    Some(s"""
      WITH t AS (
        SELECT lang, source, n_chars,
               len($oracleToks) AS n_tokens,
               len(list_distinct($oracleToks)) AS n_distinct
        FROM documents)
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct,
             MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM t GROUP BY 1, 2
    """.stripMargin.trim),
    bench = true,
  )

  /** Distributed global top-20 over a (token) row set: aggregate counts,
    * then rank via `orderBy.limit(k)` — Catalyst compiles that to
    * `TakeOrderedAndProject`, a per-partition partial top-k merged on the
    * driver. A raw web corpus's vocabulary is billions of distinct tokens,
    * so an unpartitioned `Window.orderBy` rank over the RAW counts (the
    * obvious formulation) would funnel every one of them through a single
    * task; here only the k winners ever leave the executors (bounded by
    * k, not by data). The rnk window sits ABOVE the limit, so the
    * single-task rank only ever sees ≤ k rows — and construction stays
    * lazy (no eager collect: schema/explain/dump tooling can build this
    * frame without executing the token aggregation).
    */
  private def topTokens(s: SparkSession, tokenRows: DataFrame): DataFrame = {
    import s.implicits._
    rankedTokenAgg(s, tokenRows)
      .withColumn("rnk", row_number().over(Window.orderBy($"cnt".desc, $"token")).cast("long"))
  }

  /** The distributed half of [[topTokens]], exposed for plan-shape pinning
    * (PlanSpec asserts TakeOrderedAndProject, no single-partition exchange).
    */
  private[graft] def rankedTokenAgg(s: SparkSession, tokenRows: DataFrame): DataFrame = {
    import s.implicits._
    tokenRows
      .groupBy($"token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token")
      .limit(20)
  }

  /** Whitespace-token rows for [[tokenTopK]], shared with the PlanSpec pin. */
  private[graft] def wsTokenRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d).select(explode(toks).as("token"))
  }

  /** Global token frequency top-20 (explode→count→rank): the corpus-level
    * token-counting surface. One shuffle (token agg) + a distributed
    * partial top-k ([[topTokens]]).
    */
  val tokenTopK = Q(
    "t_token_topk",
    (s, d) => topTokens(s, wsTokenRows(s, d)),
    Some(s"""
      WITH tok AS (SELECT unnest($oracleToks) AS token FROM documents),
      counted AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1)
      SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM counted QUALIFY rnk <= 20
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Heavy-hitter tokens by Misra-Gries sketch — the approximate twin of
  // t_token_topk, for vocabularies where exact counting's one-row-per-
  // distinct-token shuffle is the bottleneck (n-gram vocabularies in the
  // trillions at 100 TB). The sketch's partial states are k entries per
  // partition regardless of vocabulary; the exchange carries
  // O(k x partitions) rows total.
  //
  // The sketch's surviving set and estimates depend on Spark's merge
  // order, so the query output is the ORDER-INDEPENDENT contract only —
  // the same discipline as uv_approx's banded gate: for every provably
  // heavy token (true cnt > N/(k+1), which the MG bound says MUST
  // survive), emit the exact count plus three theorem booleans
  // (membership, est<=true, true-est<=N/(k+1)). A broken sketch flips a
  // boolean and fails the hash gate; MisraGriesSpec drives the eviction
  // and merge paths on planted Zipf corpora where vocab >> k. The exact
  // count join exists only to GRADE the sketch — production use is the
  // sketch alone (one pass, no token shuffle).
  // ---------------------------------------------------------------------

  private val mgK = 32

  val tokenHeavy = Q(
    "t_token_heavy",
    (s, d) => {
      import s.implicits._
      val tokenRows = wsTokenRows(s, d)
      val sketch = tokenRows.select($"token").as[String]
        .select(new graft.functions.MisraGriesAggregator(mgK).toColumn.name("sk"))
        .toDF("sk")
        .select(explode($"sk").as("e"))
        .select($"e.token".as("token"), $"e.est".as("est"))
      val total = tokenRows.agg(count(lit(1)).as("n"))
      tokenRows
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
        // ONE broadcast row (the stream length) — the sanctioned
        // tiny-side BNLJ class (CatalogPlanGuardSpec)
        .crossJoin(broadcast(total))
        .filter($"cnt" * (mgK + 1) > $"n") // provably heavy: cnt > N/(k+1)
        .join(sketch, Seq("token"), "left")
        .select(
          $"token",
          $"cnt",
          $"est".isNotNull.as("in_sketch"),
          (coalesce($"est", lit(0L)) <= $"cnt").as("est_lb_ok"),
          (($"cnt" - coalesce($"est", lit(0L))) * (mgK + 1) <= $"n").as("est_ub_ok"))
    },
    Some(s"""
      WITH tok AS (SELECT unnest($oracleToks) AS token FROM documents),
      cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
      SELECT token, CAST(cnt AS BIGINT) AS cnt,
             TRUE AS in_sketch, TRUE AS est_lb_ok, TRUE AS est_ub_ok
      FROM cnts, n WHERE cnt * ${mgK + 1} > n
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Language ID — marker-token n-gram heuristic. The marker sets are an
  // arbitrary-but-fixed heuristic; correctness is "same prediction as the
  // oracle", scoring quality is not the point of the operator contract.
  // ---------------------------------------------------------------------

  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("window", "fast", "und"),
    "fr" -> Seq("table", "part", "le"),
    "es" -> Seq("data", "line", "el"),
    "zh" -> Seq("spark", "query", "hash"),
  )

  val langId = Q(
    "t_lang_id",
    (s, d) => {
      import s.implicits._
      val scored = markers.foldLeft(docs(s, d).select($"doc_id", toks.as("tk"))) {
        case (df, (lang, ws)) =>
          val inSet = ws.map(w => s"x = '$w'").mkString(" or ")
          df.withColumn(s"s_$lang", expr(s"CAST(size(filter(tk, x -> $inSet)) AS BIGINT)"))
      }
      val best = markers.map(_._1).foldRight(lit("und")) { case (lang, els) =>
        val c = col(s"s_$lang")
        val isMax = markers.map(_._1).map(o => c >= col(s"s_$o")).reduce(_ && _)
        when(c > 0 && isMax, lit(lang)).otherwise(els)
      }
      scored.select(
        $"doc_id",
        $"s_en", $"s_de", $"s_fr", $"s_es", $"s_zh",
        best.as("pred_lang"),
      )
    },
    Some {
      val scoreCols = markers
        .map { case (lang, ws) =>
          val inSet = ws.map(w => s"x = '$w'").mkString(" or ")
          s"len(list_filter(tk, x -> $inSet)) AS s_$lang"
        }
        .mkString(",\n               ")
      // Mirrors the Spark foldRight: first lang (in marker order) whose
      // score is positive and >= all others wins; all-zero → 'und'.
      val pred = markers.map(_._1).foldRight("'und'") { case (lang, els) =>
        val isMax = markers.map(_._1).map(o => s"s_$lang >= s_$o").mkString(" AND ")
        s"CASE WHEN s_$lang > 0 AND $isMax THEN '$lang' ELSE $els END"
      }
      s"""
      WITH t AS (SELECT doc_id, $oracleToks AS tk FROM documents),
      scored AS (
        SELECT doc_id,
               $scoreCols
        FROM t)
      SELECT doc_id, s_en, s_de, s_fr, s_es, s_zh, $pred AS pred_lang
      FROM scored
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Quality scoring — length / type-token-ratio / stopword-ratio heuristic.
  // ---------------------------------------------------------------------

  private[queries] val stopwords = Seq("the", "a", "of", "and")

  /** Quality-gate projection shared by the batch cleaning pipeline
    * ([[cleanCorpus]]) and the streaming variant
    * (`Streams.cleanCorpusStream`): appends `n_tokens`/`n_distinct`/
    * `n_stop`/`ttr_pct`/`stop_pct`/`quality` to any frame carrying a
    * `text` column. Pure per-row projection — streaming-safe.
    */
  def withQuality(docsWithText: DataFrame): DataFrame = {
    val stopPred = stopwords.map(w => s"x = '$w'").mkString(" or ")
    docsWithText
      .withColumn("tk", toks)
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("tk"))).cast("long"))
      .withColumn("n_stop", expr(s"CAST(size(filter(tk, x -> $stopPred)) AS BIGINT)"))
      .withColumn("ttr_pct", floor(lit(100.0) * col("n_distinct") / col("n_tokens")).cast("long"))
      .withColumn("stop_pct", floor(lit(100.0) * col("n_stop") / col("n_tokens")).cast("long"))
      .withColumn(
        "quality",
        when(col("n_tokens") >= 20 && col("ttr_pct") >= 25 && col("stop_pct") <= 40, lit("good"))
          .when(col("n_tokens") >= 10, lit("fair"))
          .otherwise(lit("poor")))
      .drop("tk")
  }

  val qualityScore = Q(
    "t_quality_score",
    (s, d) => {
      import s.implicits._
      val stopPred = stopwords.map(w => s"x = '$w'").mkString(" or ")
      docs(s, d)
        .select(
          $"doc_id",
          $"n_chars",
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          expr(s"CAST(size(filter(filter(split(text,' '), x -> x != ''), x -> $stopPred)) AS BIGINT)")
            .as("n_stop"),
        )
        .withColumn("ttr_pct", floor(lit(100.0) * $"n_distinct" / $"n_tokens").cast("long"))
        .withColumn("stop_pct", floor(lit(100.0) * $"n_stop" / $"n_tokens").cast("long"))
        .withColumn(
          "quality",
          when($"n_tokens" >= 20 && $"ttr_pct" >= 25 && $"stop_pct" <= 40, lit("good"))
            .when($"n_tokens" >= 10, lit("fair"))
            .otherwise(lit("poor")),
        )
    },
    Some {
      val stopPred = stopwords.map(w => s"x = '$w'").mkString(" or ")
      s"""
      WITH t AS (
        SELECT doc_id, n_chars,
               len($oracleToks) AS n_tokens,
               len(list_distinct($oracleToks)) AS n_distinct,
               len(list_filter($oracleToks, x -> $stopPred)) AS n_stop
        FROM documents)
      SELECT doc_id, n_chars, n_tokens, n_distinct, n_stop,
             CAST(FLOOR(100.0 * n_distinct / n_tokens) AS BIGINT) AS ttr_pct,
             CAST(FLOOR(100.0 * n_stop / n_tokens) AS BIGINT) AS stop_pct,
             CASE WHEN n_tokens >= 20 AND FLOOR(100.0 * n_distinct / n_tokens) >= 25
                       AND FLOOR(100.0 * n_stop / n_tokens) <= 40 THEN 'good'
                  WHEN n_tokens >= 10 THEN 'fair'
                  ELSE 'poor' END AS quality
      FROM t
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Exact dedup — hash-groupBy on md5(text); first doc_id in each content
  // group is the keeper, the rest are flagged duplicates. One shuffle on
  // the 128-bit content hash; at 100 TB the hash column shrinks the
  // shuffle payload to ~48 bytes/row regardless of document size.
  // ---------------------------------------------------------------------

  val dedupExact = Q(
    "t_dedup_exact",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"text_hash").orderBy($"doc_id")
      docs(s, d)
        .select($"doc_id", md5($"text").as("text_hash"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("is_duplicate", $"rk" > 1)
    },
    Some("""
      SELECT doc_id, md5(text) AS text_hash,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_duplicate
      FROM documents
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Paragraph-level exact dedup — the classic residue doc-level dedup
  // misses: boilerplate blocks (nav text, license headers) repeated
  // across otherwise-distinct documents. Split each document into
  // paragraphs, md5 each, keep only the FIRST occurrence of every
  // distinct paragraph corpus-wide (order: doc_id, then position), and
  // reassemble each document from its kept paragraphs.
  //
  // The fixture corpus is single-line space-separated text (no \n\n), so
  // the paragraph unit here is the fixture-appropriate analogue: fixed
  // 25-token blocks — the same block/line-level granularity production
  // pipelines (CCNet-style line dedup) use when structural delimiters
  // are unreliable. A real corpus would swap the chunker for
  // split(text, '\n\n') and keep the rest of the pipeline unchanged.
  //
  // 100 TB shape: explode to paragraph rows (linear), ONE shuffle keyed
  // by the 128-bit paragraph hash for the first-occurrence window, one
  // doc_id-keyed reassembly agg. Nothing quadratic; the shuffle payload
  // is paragraphs, i.e. the corpus itself — the same order as any
  // rewrite pass.
  // ---------------------------------------------------------------------

  private val paraTokens = 25

  /** The operator core over any (doc_id, text) frame — exposed so the
    * property spec can drive planted-boilerplate corpora through the real
    * plan (the catalog entry wires it to the fanned documents scan).
    */
  private[queries] def dedupParaOn(docsDf: DataFrame): DataFrame = {
    val paras = docsDf
      .withColumn("tk", toks)
      .filter(size(col("tk")) > 0)
      .select(
        col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, (size(tk) - 1) DIV $paraTokens),
             |  b -> concat_ws(' ', slice(tk, b * $paraTokens + 1, $paraTokens)))""".stripMargin)))
      .withColumnRenamed("pos", "para_idx")
      .withColumnRenamed("col", "para")
    val firstW = Window.partitionBy(col("para_hash")).orderBy(col("doc_id"), col("para_idx"))
    paras
      .withColumn("para_hash", md5(col("para")))
      .withColumn("keep", row_number().over(firstW) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        // kept paragraphs in document order; collect_list drops the
        // nulls the `when` leaves for removed paragraphs
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("para_idx"), col("para"))))),
            x => x.getField("para")),
          " ").as("clean_text"))
  }

  val dedupPara = Q(
    "t_dedup_para",
    (s, d) => dedupParaOn(fannedDocs(s, d)),
    Some(s"""
      WITH tk AS (
        SELECT doc_id, $oracleToks AS tk FROM documents WHERE len($oracleToks) > 0),
      idx AS (
        SELECT doc_id, tk,
               unnest(generate_series(0, (len(tk) - 1) // $paraTokens)) AS para_idx
        FROM tk),
      paras AS (
        SELECT doc_id, para_idx,
               array_to_string(
                 tk[para_idx * $paraTokens + 1 : para_idx * $paraTokens + $paraTokens],
                 ' ') AS para
        FROM idx),
      ranked AS (
        SELECT doc_id, para_idx, para,
               ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rk
        FROM paras)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
             CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             COALESCE(string_agg(para, ' ' ORDER BY para_idx) FILTER (WHERE rk = 1), '')
               AS clean_text
      FROM ranked GROUP BY 1
    """.stripMargin.trim),
    bench = true, // full-corpus rewrite pass — track it round-over-round
  )

  // ---------------------------------------------------------------------
  // MinHash + LSH near-dup candidates.
  //
  // 12 hash functions (min over shingles of md5(seed || ':' || shingle)),
  // banded 4 × 3: docs agreeing on all 3 signature slots of any band are
  // candidates. Pipeline: explode shingles → 12 mins per doc (one agg) →
  // band keys → self-join per band → distinct pairs. The only join is an
  // equi-join on the band value; at 100 TB this is the textbook
  // shingle→minhash→band→bucket-join plan with no cross join.
  // ---------------------------------------------------------------------

  private val nHashes = 12
  private val bandSize = 3 // → 4 bands

  /** The 12 min-hash aggregates: independent salted md5s, min over the hex
    * string. Two cheaper-looking variants were measured and rejected:
    * deriving several hashes from one digest doubled false-positive
    * candidates (correlated bands), and converting to 60-bit longs via
    * `conv(hex15, 16, 10)` benched ~1.5x SLOWER end-to-end — Conv
    * round-trips through a decimal string, which costs more per row than
    * the narrower agg state saves.
    */
  private def minhashCols: Seq[Column] = (0 until nHashes).map(i =>
    min(md5(concat(lit(i.toString), lit(":"), col("sh")))).as(s"m$i"))

  /** Mega-bucket guard: a band bucket holding more than this many docs is
    * skipped entirely instead of pair-expanded. A degenerate bucket (every
    * doc built from one template agreeing on a whole band) would otherwise
    * contribute a QUADRATIC number of candidate pairs — the one term of
    * the LSH plan that can blow up at 100 TB. Skipping is the standard
    * production treatment (a signature shared by 10^3+ docs carries no
    * near-dup information, exactly like a stopword in an inverted index);
    * the cap bounds both the explode (~5×10^5 pairs per bucket worst
    * case) and — because the gather runs through
    * [[graft.functions.BoundedCollectAggregator]], whose aggregation
    * BUFFER is capped, not just its output — the per-task memory, so no
    * task ever materializes a degenerate bucket even transiently. On
    * adversarial corpora run exact dedup first (`t_neardup_post_dedup`),
    * which collapses identical texts before banding. Mirrored in the
    * DuckDB oracle so both engines drop the same buckets.
    */
  private[graft] val maxBucket = 1 << 10

  /** (doc_id, band, bkey) LSH band rows of a shingle frame — the
    * signature+banding half shared by [[minhashPairs]] (within-corpus
    * pairs) and [[deltaNearDupOn]] (delta-vs-base membership).
    *
    * One explode per signature row (not a 4-way union re-running the
    * aggregation per band): (band, bkey) pairs in a single pass.
    */
  /** Per-row LSH band rows of a (doc_id, text, ...) frame — the batch
    * signature's groupBy(min over exploded shingles) re-expressed as
    * `array_min` over the per-row shingle array, so it is a PURE
    * PROJECTION: no aggregation, no state, legal in a streaming plan
    * (the ingest half [[graft.streaming.Streams.deltaNearDupStream]]
    * runs it per micro-batch). Row-for-row equal to [[minhashBandRows]]
    * (same md5 stream, same band packing; lexicographic min over a
    * group == array_min over the array of distinct shingles) — pinned in
    * StreamsSpec. Docs under 3 tokens produce no band rows, same as the
    * batch path's empty explode. Passthrough columns survive.
    */
  private[graft] def streamBandRows(docsDf: DataFrame): DataFrame = {
    val keep = docsDf.columns.map(col)
    val sigCols = (0 until nHashes).map { i =>
      array_min(expr(s"transform(sh_arr, x -> md5(concat('$i', ':', x)))")).as(s"m$i")
    }
    val bandStructs = (0 until nHashes / bandSize).map { b =>
      val slots = (0 until bandSize).map(j => col(s"m${b * bandSize + j}").as(s"k$j"))
      struct(lit(b).as("band"), struct(slots: _*).as("bkey"))
    }
    docsDf
      .withColumn("tk", toks)
      .withColumn("sh_arr", shinglesOfTk)
      .filter(size(col("sh_arr")) >= 1)
      .select(keep ++ sigCols: _*)
      .select(keep :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+ col("bb.bkey").as("bkey"): _*)
  }

  private[queries] def minhashBandRows(shingled: DataFrame): DataFrame = {
    val cols = minhashCols
    val sig = shingled.groupBy(col("doc_id")).agg(cols.head, cols.tail: _*)
    val bandStructs = (0 until nHashes / bandSize).map { b =>
      val slots = (0 until bandSize).map(j => col(s"m${b * bandSize + j}").as(s"k$j"))
      struct(lit(b).as("band"), struct(slots: _*).as("bkey"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Band rows with a per-bucket size column `n` — the window-priced
    * half of the two-phase degenerate-bucket guard, shared by
    * [[minhashPairs]] and [[deltaNearDupOn]] so the cap semantics
    * (count EVERY row in the bucket, cap before any gather) can never
    * drift between the two. A native window COUNT over the (band, bkey)
    * partitioning prices every bucket; callers drop mega-buckets
    * (n > cap) BEFORE any gather/join. The window's per-partition
    * buffer is a spillable sort, so a degenerate bucket never occupies
    * an in-memory aggregation buffer — the same memory guarantee
    * [[graft.functions.BoundedCollectAggregator]] gave (that aggregator
    * remains the SQL-surface form), without paying UDAF serialization
    * on the 99.9% of buckets that are small.
    */
  private[queries] def pricedBandRows(shingled: DataFrame): DataFrame = {
    val byBucket = Window.partitionBy(col("band"), col("bkey"))
    minhashBandRows(shingled).withColumn("n", count(lit(1)).over(byBucket))
  }

  /** Priced band rows → candidate pairs via banded LSH.
    *
    * Pairs come from grouping each band bucket and expanding in-bucket
    * combinations, NOT from a self-join: a self-join would evaluate the
    * whole signature aggregation twice (once per side), and at scale the
    * 12-way min-hash agg is the dominant cost. The window and the groupBy
    * share the same partitioning, so pricing + gather is still ONE
    * exchange. Buckets are tiny by LSH construction, so the i<j expansion
    * per bucket is cheap (and [[maxBucket]]-bounded); the sorted ids
    * array makes doc_a < doc_b by construction.
    */
  private[queries] def minhashPairs(
      shingled: DataFrame,
      cap: Int = maxBucket,
  ): DataFrame = {
    pricedBandRows(shingled)
      .filter(col("n") > 1 && col("n") <= cap)
      .groupBy(col("band"), col("bkey"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(sequence(i + 1, size(ids)),
          |    j -> struct(element_at(ids, i) AS doc_a, element_at(ids, j) AS doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** DuckDB `sig`/`bands` CTEs mirroring the signature+banding half of
    * [[minhashPairs]], given a `sh(doc_id, sh)` CTE.
    */
  private[queries] def oracleMinhashSigBands: String = {
    val minCols = (0 until nHashes)
      .map(i => s"MIN(md5('$i' || ':' || sh)) AS m$i")
      .mkString(",\n               ")
    val bandRows = (0 until nHashes / bandSize)
      .map { b =>
        val slots = (0 until bandSize)
          .map(j => s"m${b * bandSize + j} AS k$j")
          .mkString(", ")
        s"SELECT doc_id, $b AS band, $slots FROM sig"
      }
      .mkString("\n        UNION ALL ")
    s"""sig AS (
      |        SELECT doc_id,
      |               $minCols
      |        FROM sh GROUP BY doc_id),
      |      bands AS (
      |        $bandRows)""".stripMargin
  }

  /** Pairs select mirroring the [[maxBucket]] guard: the band self-join is
    * gated on buckets of 2..maxBucket members, matching the Spark side's
    * size filter exactly.
    */
  private[queries] def oracleMinhashPairsSelect: String =
    s"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |      FROM bands a JOIN bands b
      |        ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1 AND a.k2 = b.k2
      |       AND a.doc_id < b.doc_id
      |      JOIN (SELECT band, k0, k1, k2 FROM bands GROUP BY 1, 2, 3, 4
      |            HAVING COUNT(*) <= $maxBucket) ok
      |        ON a.band = ok.band AND a.k0 = ok.k0 AND a.k1 = ok.k1 AND a.k2 = ok.k2""".stripMargin

  /** DuckDB mirror of [[minhashPairs]] given a `sh(doc_id, sh)` CTE: the
    * `sig`/`bands` CTEs plus the final distinct-pairs select (band-bucket
    * equi-join; DuckDB's optimizer CSEs the sig subtree).
    */
  private def oracleMinhashTail: String =
    s"""$oracleMinhashSigBands
      |      $oracleMinhashPairsSelect""".stripMargin

  // ---------------------------------------------------------------------
  // LSH precision audit — "is my dedup lying to me": every MinHash
  // candidate pair is scored with its TRUE shingle Jaccard, rolled up
  // to a one-row precision summary (candidates, true near-dups at the
  // >= 50% gate, precision pct). The true-Jaccard join is restricted
  // to the CANDIDATE pairs (cand ⋈ shingles(doc_a) ⋈ shingles(doc_b)
  // on the shingle key), so its cost is bounded by candidate volume x
  // doc shingle count — never the all-shared-shingle-pairs blowup.
  // The standard acceptance gate every production LSH deployment
  // monitors; a banding-parameter regression shows up here first.
  // ---------------------------------------------------------------------
  val lshPrecision = Q(
    "t_lsh_precision",
    (s, d) => {
      import s.implicits._
      val shing = docShingles(s, d).localCheckpoint(false)
      val cands = minhashPairs(shing).select($"doc_a", $"doc_b")
      val sizes = shing.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = cands
        .join(shing.select($"doc_id".as("doc_a"), $"sh"), "doc_a")
        .join(shing.select($"doc_id".as("doc_b"), $"sh"), Seq("doc_b", "sh"))
        .groupBy($"doc_a", $"doc_b")
        .agg(count(lit(1)).as("inter"))
      cands
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(coalesce($"inter", lit(0L)).as("i"), $"n_a", $"n_b")
        .select((floor(lit(100.0) * $"i" / ($"n_a" + $"n_b" - $"i")))
          .cast("long").as("jaccard_pct"))
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when($"jaccard_pct" >= 50, 1L).otherwise(0L)).as("n_true"))
        .select($"n_candidates", $"n_true",
          expr("CASE WHEN n_candidates > 0 THEN (100 * n_true) div n_candidates END")
            .as("precision_pct"))
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleMinhashSigBands,
      cand AS (
        $oracleMinhashPairsSelect),
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS i
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY 1, 2),
      scored AS (
        SELECT CAST(FLOOR(100.0 * COALESCE(i, 0) /
                 (sa.n_sh + sb.n_sh - COALESCE(i, 0))) AS BIGINT) AS jaccard_pct
        FROM cand c
        LEFT JOIN inter USING (doc_a, doc_b)
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b),
      sums AS (
        SELECT COUNT(*) AS n_candidates,
               CAST(SUM(CASE WHEN jaccard_pct >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_true
        FROM scored)
      SELECT n_candidates, n_true,
             CASE WHEN n_candidates > 0
                  THEN (100 * n_true) // n_candidates END AS precision_pct
      FROM sums
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // LSH recall audit — precision's sibling: of the TRUE near-dup pairs
  // (exact shingle Jaccard >= 50%, from the shared-shingle join the
  // n-gram verifier already runs), how many did the MinHash banding
  // actually surface as candidates. Together with t_lsh_precision this
  // is the full quality contract of the banded index; a banding change
  // that silently trades recall for speed shows up as this row moving.
  // The exact-pair join is the audit's cost (quadratic in genuine
  // duplication, like every exact verifier here) — production samples
  // the corpus for this audit; the catalog runs it whole at test SF.
  // ---------------------------------------------------------------------
  val lshRecall = Q(
    "t_lsh_recall",
    (s, d) => {
      import s.implicits._
      val shing = docShingles(s, d).localCheckpoint(false)
      val truePairs = jaccardPairs(shing)
        .filter($"jaccard_pct" >= 50)
        .select($"doc_a", $"doc_b")
      val cands = minhashPairs(shing)
        .select($"doc_a", $"doc_b").withColumn("caught", lit(1L))
      truePairs
        .join(cands, Seq("doc_a", "doc_b"), "left")
        .agg(
          count(lit(1)).as("n_true"),
          sum(coalesce($"caught", lit(0L))).as("n_caught"))
        .select($"n_true", $"n_caught",
          expr("CASE WHEN n_true > 0 THEN (100 * n_caught) div n_true END")
            .as("recall_pct"))
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleMinhashSigBands,
      cand AS (
        $oracleMinhashPairsSelect),
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      xinter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      tp AS (
        SELECT doc_a, doc_b FROM xinter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE FLOOR(100.0 * inter / (sa.n_sh + sb.n_sh - inter)) >= 50),
      sums AS (
        SELECT COUNT(*) AS n_true,
               CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
        FROM tp LEFT JOIN cand c USING (doc_a, doc_b))
      SELECT n_true, n_caught,
             CASE WHEN n_true > 0 THEN (100 * n_caught) // n_true END AS recall_pct
      FROM sums
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Dedup evidence — explainability for a dedup verdict: for the
  // STRONGEST candidate pair (max true Jaccard, deterministic tiebreak)
  // emit the actual shared shingles, i.e. the overlapping text a
  // reviewer checks before trusting the pipeline's delete list. The
  // winner is a 1-row frame; the evidence join is two 1-row-broadcast
  // equi-joins against the shingle table — the audit costs one pair's
  // shingles regardless of corpus size.
  // ---------------------------------------------------------------------
  val dedupEvidence = Q(
    "t_dedup_evidence",
    (s, d) => {
      import s.implicits._
      val shing = docShingles(s, d).localCheckpoint(false)
      val sizes = shing.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
      val cands = minhashPairs(shing).select($"doc_a", $"doc_b")
      val winner = cands
        .join(shing.select($"doc_id".as("doc_a"), $"sh"), "doc_a")
        .join(shing.select($"doc_id".as("doc_b"), $"sh"), Seq("doc_b", "sh"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select($"doc_id".as("doc_a"), $"n_sh".as("n_a")), "doc_a")
        .join(sizes.select($"doc_id".as("doc_b"), $"n_sh".as("n_b")), "doc_b")
        .withColumn("jaccard_pct",
          floor(lit(100.0) * $"inter" / ($"n_a" + $"n_b" - $"inter")).cast("long"))
        .orderBy($"jaccard_pct".desc, $"doc_a", $"doc_b")
        .limit(1)
        .select($"doc_a", $"doc_b", $"jaccard_pct")
        // eager: the 1-row winner pins the heavy candidate/Jaccard
        // subtree to exactly ONE execution regardless of how many
        // downstream evidence joins reference it (warm sf0.1 ~1.7 s,
        // in family with the t_lsh_* audits)
        .localCheckpoint()
      winner
        .join(shing.select($"doc_id".as("doc_a"), $"sh"), "doc_a")
        .join(shing.select($"doc_id".as("doc_b"), $"sh"), Seq("doc_b", "sh"))
        .select($"doc_a", $"doc_b", $"jaccard_pct", $"sh".as("shared_shingle"))
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleMinhashSigBands,
      cand AS (
        $oracleMinhashPairsSelect),
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      xinter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY 1, 2),
      winner AS (
        SELECT x.doc_a, x.doc_b,
               CAST(FLOOR(100.0 * inter / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_pct
        FROM xinter x
        JOIN sizes sa ON sa.doc_id = x.doc_a
        JOIN sizes sb ON sb.doc_id = x.doc_b
        ORDER BY jaccard_pct DESC, x.doc_a, x.doc_b
        LIMIT 1)
      SELECT w.doc_a, w.doc_b, w.jaccard_pct, a.sh AS shared_shingle
      FROM winner w
      JOIN sh a ON a.doc_id = w.doc_a
      JOIN sh b ON b.doc_id = w.doc_b AND b.sh = a.sh
    """.stripMargin.trim),
  )

  val minhashLsh = Q(
    "t_minhash_lsh",
    (s, d) => minhashPairs(docShingles(s, d)),
    Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleMinhashTail
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Near-dup CLUSTER resolution — the step that turns candidate PAIRS
  // into a dedup decision: connected components over the pair graph,
  // cluster representative = min doc_id, keep one doc per cluster. A
  // pipeline that stops at pairs hasn't deduped anything; transitively
  // linked near-dups (A~B, B~C) must collapse to ONE keeper even though
  // (A,C) was never a candidate pair.
  //
  // Spark formulation: min-label propagation WITH pointer doubling — per
  // round, (a) every vertex takes the min of its own and its neighbors'
  // labels (one equi-join + one agg), then (b) shortcuts through its own
  // label's label (`lbl := lbl(lbl)`, a self-join on the unique-keyed
  // label table). The hop alone needs O(component diameter) rounds — a
  // template-drift CHAIN of near-dups degrades linearly; the shortcut
  // roughly doubles the distance a label travels per round, so
  // convergence is O(log diameter) on ANY graph shape (a 200-hop chain
  // converges in 8 rounds — ConnectedComponentsSpec pins ≤ 10). Hitting
  // `maxRounds` no longer throws: the result is returned as-is with a
  // `converged = false` flag, so a pathological input degrades to
  // under-merged clusters instead of killing the query.
  // Two scale guards: per-round checkpointing truncates the lineage an
  // iterative plan otherwise grows without bound (`localCheckpoint` by
  // default; pass `checkpointDir` for a reliable HDFS-style checkpoint
  // that survives executor loss — localCheckpoint blocks die with their
  // executor, killing a long iterative job at cluster scale), and the
  // per-round driver check is a COUNT, never the labels. The oracle is a
  // DuckDB recursive CTE computing reachability min — exact same fixpoint.
  //
  // Relationship to t_clean_corpus's simpler policy (anti-join on every
  // pair's doc_b): that keeps every LOCAL minimum — a doc smaller than
  // all its direct neighbors survives even when a smaller doc sits two
  // hops away (edges (2,3),(1,3): the anti-join keeps 1 AND 2; clusters
  // keep only 1). Cluster resolution is the strictly stronger dedup.
  // ---------------------------------------------------------------------

  /** Labels + the round count and convergence status — exposed so the
    * spec can pin the logarithmic round bound directly.
    */
  private[queries] final case class CcResult(labels: DataFrame, rounds: Int, converged: Boolean)

  private[queries] def connectedComponentsStats(
      edges: DataFrame,
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None): CcResult = {
    // Reliable-checkpoint caveats, deliberate: setCheckpointDir is
    // SESSION-GLOBAL (later checkpointing code in the same session
    // writes under this dir too), and each round's files persist until
    // application exit unless the app enables
    // spark.cleaner.referenceTracking.cleanCheckpoints — both standard
    // Spark behavior for reliable checkpoints, acceptable for the long
    // iterative cluster jobs the option exists for, and why
    // localCheckpoint stays the default.
    // LAZY checkpoints throughout: the per-round label-sum probe below is
    // the materializing action, so each round runs ONE job (sum computes
    // the round's plan and persists the checkpoint blocks as a side
    // effect) instead of two (eager materialization + separate probe).
    // The round-14 partition-count probe showed CC cost is (rounds x
    // jobs/round x local job floor), not shuffle width — halving
    // jobs/round is the lever that probe said partition count wasn't
    // (SCALING.md ("CC partition-count probe")). The probe aggregates
    // every partition, so the checkpoint is always complete before the
    // next round reads it.
    val persist: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        edges.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint(false)
      case None => df => df.localCheckpoint(false)
    }
    val und = persist(
      edges.select(col("doc_a").as("v"), col("doc_b").as("nbr"))
        .union(edges.select(col("doc_b").as("v"), col("doc_a").as("nbr"))))
    var labels = persist(und.select(col("v")).distinct().withColumn("lbl", col("v")))
    // Convergence signal: labels only ever DECREASE (min over a set
    // containing the own label; the shortcut takes least), so the label
    // SUM strictly decreases iff any vertex changed — one decimal
    // aggregate per round instead of a labels⋈labels join + count
    // (decimal, not long: at 10^12 vertices x 2^40 ids a long sum
    // overflows).
    def lblSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("lbl").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = lblSum(labels)
    var round = 0
    var changed = true
    while (changed && round < maxRounds) {
      // hop: min over own + neighbors' labels
      val nbrLbl = und
        .join(labels.select(col("v").as("nbr"), col("lbl")), "nbr")
        .select(col("v"), col("lbl"))
      val hopped = labels.select(col("v"), col("lbl"))
        .union(nbrLbl)
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
      // shortcut (pointer doubling): lbl := lbl(lbl). The build side is
      // keyed by the UNIQUE vertex id, so the probe's hot late-round lbl
      // keys fan out to at most one match each (no row explosion; shuffle
      // skew falls to AQE). Labels are always component-member ids, so
      // the lookup stays within the component and only ever decreases.
      val next = persist(
        hopped
          .join(
            hopped.select(col("v").as("l2"), col("lbl").as("lbl2")),
            col("lbl") === col("l2"), "left")
          .select(col("v"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
      val nextSum = lblSum(next)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      round += 1
    }
    CcResult(labels, round, !changed)
  }

  /** (v, rep, converged) for every vertex of `edges` (cols doc_a, doc_b):
    * rep = min doc_id of the vertex's connected component; `converged` is
    * false only when `maxRounds` was exhausted with labels still moving
    * (result then under-merges — degraded, not thrown). Exposed for the
    * property spec (random graphs vs union-find).
    */
  private[queries] def connectedComponents(
      edges: DataFrame,
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val r = connectedComponentsStats(edges, maxRounds, checkpointDir)
    r.labels.select(col("v"), col("lbl").as("rep"), lit(r.converged).as("converged"))
  }

  val neardupClusters = Q(
    "t_neardup_clusters",
    (s, d) => {
      import s.implicits._
      connectedComponents(minhashPairs(docShingles(s, d)))
        .select(
          $"v".as("doc_id"),
          $"rep",
          ($"v" === $"rep").as("is_kept"),
          $"converged")
    },
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleMinhashSigBands,
      pairs AS (
        $oracleMinhashPairsSelect),
      und AS (
        SELECT doc_a AS v, doc_b AS nbr FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(v, r) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM und)
        UNION
        SELECT u.v, reach.r FROM und u JOIN reach ON u.nbr = reach.v)
      SELECT v AS doc_id, MIN(r) AS rep, v = MIN(r) AS is_kept, TRUE AS converged
      FROM reach GROUP BY v
    """.stripMargin.trim),
    bench = true, // iterative op: track rounds x (join+agg) cost per round
  )

  // ---------------------------------------------------------------------
  // Dup-cluster size histogram — the corpus-duplication report every
  // dedup pass publishes (what fraction of the corpus is duplicated, and
  // in what cluster sizes): resolve near-dup components, then count
  // clusters per size, singletons included so the rows sum to the whole
  // corpus. One line answers "how much does dedup save?" —
  // sum(n_docs - n_clusters) docs removed at keep-one.
  //
  // 100 TB shape: everything t_neardup_clusters pays, plus two keyed
  // count aggs (rep, then size) whose inputs shrink at each step
  // (corpus → clusters → distinct sizes). Nothing new shuffles.
  // ---------------------------------------------------------------------

  val dedupStats = Q(
    "t_dedup_stats",
    (s, d) => {
      import s.implicits._
      val labels = connectedComponents(minhashPairs(docShingles(s, d)))
        .select($"v".as("doc_id"), $"rep")
      docs(s, d).select($"doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"rep", $"doc_id").as("rep"))
        .groupBy($"rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(
          $"cluster_size",
          $"n_clusters",
          ($"cluster_size" * $"n_clusters").as("n_docs"))
    },
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleMinhashSigBands,
      pairs AS (
        $oracleMinhashPairsSelect),
      und AS (
        SELECT doc_a AS v, doc_b AS nbr FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(v, r) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM und)
        UNION
        SELECT u.v, reach.r FROM und u JOIN reach ON u.nbr = reach.v),
      comp AS (SELECT v, MIN(r) AS rep FROM reach GROUP BY v),
      sized AS (
        SELECT COALESCE(c.rep, d.doc_id) AS rep, COUNT(*) AS cluster_size
        FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
        GROUP BY 1)
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
      FROM sized GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Keep-BEST dedup — cluster resolution with a quality-aware keeper
  // policy. t_neardup_clusters keeps the min doc_id per cluster: simple,
  // deterministic, and what a hash-keyed pipeline does by default — but
  // a curation pipeline wants to keep the BEST copy of each near-dup
  // cluster, not the numerically smallest id (the CCNet/RefinedWeb
  // policy: among near-duplicate page captures, keep the longest /
  // highest-quality one). Keeper = first doc per cluster ordered by
  // (quality class good<fair<poor, then n_tokens DESC, then doc_id for
  // determinism). Singleton docs (no candidate pair) are their own
  // cluster and trivially kept, so the output covers the WHOLE corpus —
  // this is the full dedup decision surface, not just the pair graph.
  //
  // 100 TB shape: everything t_neardup_clusters pays, plus one per-row
  // quality projection, one doc-keyed left join grafting rep onto the
  // corpus (graph vertices are a subset of docs; AQE picks the join), and
  // one rank window partitioned by cluster rep. Window partitions are
  // cluster-sized; the window's sort buffer spills, so a mega-cluster
  // degrades to disk, never OOM — same guarantee as every other window
  // in the pack.
  // ---------------------------------------------------------------------

  /** The keep-best core over any (doc_id, text) frame — exposed so the
    * spec can plant a cluster whose lowest doc_id is a low-quality copy
    * and pin that the keeper policy genuinely diverges from keep-min.
    */
  private[queries] def keepBestOn(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val cc = connectedComponents(minhashPairs(shinglesOfDf(docsDf.select($"doc_id", $"text"))))
      .select($"v".as("doc_id"), $"rep")
    val qRank = when($"quality" === "good", lit(0))
      .when($"quality" === "fair", lit(1))
      .otherwise(lit(2))
    val w = Window.partitionBy($"rep")
      .orderBy(qRank.asc, $"n_tokens".desc, $"doc_id".asc)
    withQuality(docsDf)
      .select($"doc_id", $"n_tokens", $"quality")
      .join(cc, Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"rep", $"doc_id"))
      .withColumn("rk", row_number().over(w))
      .select($"doc_id", $"rep", $"quality", $"n_tokens", ($"rk" === 1).as("is_kept"))
  }

  val dedupKeepBest = Q(
    "t_dedup_keep_best",
    (s, d) => keepBestOn(fannedDocs(s, d)),
    Some {
      val stopPred = stopwords.map(w => s"x = '$w'").mkString(" or ")
      s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleMinhashSigBands,
      pairs AS (
        $oracleMinhashPairsSelect),
      und AS (
        SELECT doc_a AS v, doc_b AS nbr FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(v, r) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM und)
        UNION
        SELECT u.v, reach.r FROM und u JOIN reach ON u.nbr = reach.v),
      cc AS (SELECT v AS doc_id, MIN(r) AS rep FROM reach GROUP BY v),
      scored AS (
        SELECT doc_id,
               len($oracleToks) AS n_tokens,
               len(list_distinct($oracleToks)) AS n_distinct,
               len(list_filter($oracleToks, x -> $stopPred)) AS n_stop
        FROM documents),
      q AS (
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens >= 20 AND FLOOR(100.0 * n_distinct / n_tokens) >= 25
                         AND FLOOR(100.0 * n_stop / n_tokens) <= 40 THEN 'good'
                    WHEN n_tokens >= 10 THEN 'fair'
                    ELSE 'poor' END AS quality
        FROM scored),
      j AS (
        SELECT q.doc_id, COALESCE(cc.rep, q.doc_id) AS rep, q.quality, q.n_tokens
        FROM q LEFT JOIN cc USING (doc_id))
      SELECT doc_id, rep, quality, n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY rep
               ORDER BY CASE quality WHEN 'good' THEN 0 WHEN 'fair' THEN 1 ELSE 2 END,
                        n_tokens DESC, doc_id) = 1 AS is_kept
      FROM j
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Exact n-gram Jaccard over pairs sharing ≥1 shingle. The shared-shingle
  // equi-join bounds the pair set (no cross join); `inter * 5 >= union`
  // keeps the ≥ 0.2 threshold in exact integer math.
  // ---------------------------------------------------------------------

  /** (doc_id, sh) shingle rows → exact-Jaccard pairs at >= 20% (integer
    * threshold `5*inter >= union`): shared-shingle equi-join, per-pair
    * intersection counts, then size lookups joined WITHOUT a broadcast
    * hint — `sizes` is one row per document, so a forced broadcast would
    * be a multi-billion-row driver OOM at corpus scale; AQE broadcasts it
    * while it measures small and falls back to a shuffle join beyond.
    * Shared by the raw query and the dedup-first composition — on a corpus
    * with exact duplicates the shared-shingle join multiplies per replica
    * pair (30 s vs 1 s on the 5× corpus,
    * SCALING.md ("Round-3 full-catalog sweep at 5× sf0.1")), so compose
    * with exact dedup first.
    */
  private def jaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
            col("sh") === col("sh_b") && col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * 5 >= col("uni"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
              floor(lit(100.0) * col("inter") / col("uni")).cast("long").as("jaccard_pct"))
  }

  /** DuckDB mirror of [[jaccardPairs]] given a `sh(doc_id, sh)` CTE. */
  private val oracleJaccardTail: String =
    """sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |      inter AS (
      |        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2)
      |      SELECT doc_a, doc_b, inter, (sa.n_sh + sb.n_sh - inter) AS uni,
      |             CAST(FLOOR(100.0 * inter / (sa.n_sh + sb.n_sh - inter)) AS BIGINT) AS jaccard_pct
      |      FROM inter
      |      JOIN sizes sa ON sa.doc_id = doc_a
      |      JOIN sizes sb ON sb.doc_id = doc_b
      |      WHERE inter * 5 >= (sa.n_sh + sb.n_sh - inter)""".stripMargin

  val ngramJaccard = Q(
    "t_ngram_jaccard",
    (s, d) => jaccardPairs(docShingles(s, d)),
    Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      $oracleJaccardTail
    """.stripMargin.trim),
  )

  /** Exact dedup → exact Jaccard on the survivors: the composed form that
    * keeps the shared-shingle join linear on duplicate-heavy corpora (the
    * 30× measured gap above). This is the VERIFY stage a production
    * pipeline runs on LSH candidates; here it verifies every survivor
    * pair that still shares a shingle.
    */
  val jaccardPostDedup = Q(
    "t_jaccard_post_dedup",
    (s, d) => jaccardPairs(survivorShingles(s, d)),
    Some(s"""
      WITH $oracleSurvivorsCte,
      $oracleJaccardTail
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // SimHash fingerprint — 60-bit (term-frequency-weighted): bit j of the
  // fingerprint is 1 iff Σ_tokens (2·bit_j(h60(token)) − 1) > 0. Explodes
  // each token into 60 (token, bit) rows, aggregates per doc — linear in
  // corpus size, one shuffle keyed by doc_id (and measured FASTER than
  // the shuffle-free per-row HOF form; see [[simhashFingerprints]]).
  // ---------------------------------------------------------------------

  /** documents → (doc_id, token) rows, scan fanned out: the simhash
    * pipeline evaluates one md5 per token and then explodes ×60 bit rows
    * through the partial aggregation in the same stage as the scan.
    */
  private def docTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedDocs(s, d).select($"doc_id", explode(toks).as("token"))
  }

  /** (doc_id, <outCol>) — the 60-bit tf-weighted SimHash fingerprint of
    * every document (the pipeline shared verbatim by [[simhash]] and
    * [[simhashNearDup]]): one md5 per token, ×60 (token, bit) rows, ±1
    * weights summed per bit, bit j set iff its weight sum is positive.
    *
    * The seemingly-cheaper PER-ROW formulation (token hashes as a
    * row-local array, 60 bit-sums via nested `aggregate` HOFs, zero
    * shuffle) was built and A/B-measured in round 9 and is ~1.7× SLOWER
    * end-to-end (1.62 s vs 0.97 s composed neardup at sf0.1,
    * interleaved min-of-5): nested lambda HOFs evaluate interpreted,
    * one boxed invocation per (token, bit), while the exploded form
    * stays inside Tungsten's codegen'd hash aggregation. (Beware the
    * benchmark trap that suggested otherwise: `count()` on the per-row
    * projection lets Catalyst prune the fingerprint column away
    * entirely, so the "fast" number timed tokenization only.)
    */
  private def simhashFingerprints(s: SparkSession, d: String, outCol: String): DataFrame = {
    import s.implicits._
    docTokens(s, d)
      .withColumn("h", h60($"token"))
      .select($"doc_id", $"h", explode(sequence(lit(0), lit(59))).as("j"))
      .withColumn("w", (expr("shiftright(h, j)") % 2) * 2 - 1)
      .groupBy($"doc_id", $"j")
      .agg(sum($"w").as("ws"))
      .groupBy($"doc_id")
      .agg(sum(when($"ws" > 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(lit(0L)))
        .as(outCol))
  }

  val simhash = Q(
    "t_simhash",
    (s, d) => simhashFingerprints(s, d, "simhash"),
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($oracleToks) AS token FROM documents),
      bits AS (
        SELECT doc_id,
               ('0x' || substr(md5(token), 1, 15))::UBIGINT::BIGINT AS h,
               unnest(generate_series(0, 59)) AS j
        FROM tok),
      sums AS (
        SELECT doc_id, j, SUM(((h >> j) % 2) * 2 - 1) AS ws
        FROM bits GROUP BY 1, 2)
      SELECT doc_id,
             CAST(SUM(CASE WHEN ws > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
      FROM sums GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Rolling-hash document fingerprint: polynomial hash over the token
  // stream, folded left-to-right in exact integer math (mod 2^31−1 keeps
  // every intermediate < 2^36, far from BIGINT overflow in either engine).
  // Pure per-row projection — embarrassingly parallel at any scale.
  // ---------------------------------------------------------------------

  val rollingFingerprint = Q(
    "t_fingerprint",
    (s, d) => {
      import s.implicits._
      docs(s, d).select(
        $"doc_id",
        expr(
          """aggregate(
            |  filter(split(text, ' '), x -> x != ''),
            |  CAST(7 AS BIGINT),
            |  (acc, x) -> (acc * 31 + CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % 1000003)
            |              % 2147483647)""".stripMargin).as("fingerprint"),
      )
    },
    Some(s"""
      SELECT doc_id,
             list_reduce(
               list_prepend(7::BIGINT,
                 list_transform($oracleToks,
                   x -> ('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT % 1000003)),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
      FROM documents
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // SimHash near-dup pairs: the standard banded-simhash dedup — candidates
  // share at least one of four 15-bit bands of the 60-bit fingerprint
  // (pigeonhole: any pair within Hamming distance 3 shares a band;
  // threshold 6 accepts the recall trade), confirmed by bit_count(a XOR b).
  // Same shape as MinHash-LSH: band equi-join, no cross join — and the
  // same [[maxBucket]] degenerate-bucket guard (a band value shared by
  // 10^3+ fingerprints is template boilerplate, not near-dup signal, and
  // would otherwise quadratic-expand inside one task), mirrored in the
  // oracle.
  // ---------------------------------------------------------------------

  private val simhashMaxHamming = 6

  val simhashNearDup = Q(
    "t_simhash_neardup",
    (s, d) => {
      import s.implicits._
      val fp = simhashFingerprints(s, d, "fp")
      val banded = fp.select(
        $"doc_id", $"fp",
        explode(expr("transform(sequence(0, 3), b -> struct(b AS band, shiftright(fp, b * 15) % 32768 AS bkey))")).as("bb"))
        .select($"doc_id", $"fp", $"bb.band", $"bb.bkey")
      // same two-phase window-count guard as [[minhashPairs]]: price the
      // bucket natively, drop mega-buckets pre-gather, native collect_list
      // on survivors only (one exchange — shared partitioning)
      val byBucket = org.apache.spark.sql.expressions.Window
        .partitionBy($"band", $"bkey")
      banded
        .withColumn("n", count(lit(1)).over(byBucket))
        .filter($"n" > 1 && $"n" <= maxBucket)
        .groupBy($"band", $"bkey")
        .agg(sort_array(collect_list(struct($"doc_id", $"fp"))).as("ds"))
        .select(explode(expr(
          """flatten(transform(sequence(1, size(ds) - 1),
            |  i -> transform(sequence(i + 1, size(ds)),
            |    j -> struct(element_at(ds, i).doc_id AS doc_a, element_at(ds, j).doc_id AS doc_b,
            |                bit_count(element_at(ds, i).fp ^ element_at(ds, j).fp) AS hamming))))""".stripMargin))
          .as("p"))
        .select($"p.doc_a", $"p.doc_b", $"p.hamming".cast("long").as("hamming"))
        .filter($"hamming" <= simhashMaxHamming)
        .distinct()
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest($oracleToks) AS token FROM documents),
      bits AS (
        SELECT doc_id,
               ('0x' || substr(md5(token), 1, 15))::UBIGINT::BIGINT AS h,
               unnest(generate_series(0, 59)) AS j
        FROM tok),
      sums AS (SELECT doc_id, j, SUM(((h >> j) % 2) * 2 - 1) AS ws FROM bits GROUP BY 1, 2),
      fp AS (SELECT doc_id, SUM(CASE WHEN ws > 0 THEN (1::BIGINT << j) ELSE 0 END) AS fp
             FROM sums GROUP BY 1),
      banded AS (
        SELECT doc_id, fp, b AS band, (fp >> (b * 15)) % 32768 AS bkey
        FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
               bit_count(xor(a.fp, c.fp)) AS hamming
        FROM banded a JOIN banded c
          ON a.band = c.band AND a.bkey = c.bkey AND a.doc_id < c.doc_id
        JOIN (SELECT band, bkey FROM banded GROUP BY 1, 2
              HAVING COUNT(*) <= $maxBucket) ok
          ON a.band = ok.band AND a.bkey = ok.bkey)
      SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
      FROM pairs WHERE hamming <= $simhashMaxHamming
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Composed dedup pipeline: exact dedup FIRST (collapse identical
  // payloads on the md5 hash — cheap, one shuffle), near-dup candidates
  // on the survivors only. This is the composition
  // SCALING.md ("Round-3 full-catalog sweep at 5× sf0.1") prescribes for
  // duplicate-heavy corpora: the quadratic within-bucket term of the LSH
  // stage only ever sees unique texts.
  // ---------------------------------------------------------------------

  val neardupPostDedup = Q(
    "t_neardup_post_dedup",
    (s, d) => minhashPairs(survivorShingles(s, d)),
    Some(s"""
      WITH $oracleSurvivorsCte,
      $oracleMinhashTail
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Full corpus-cleaning pipeline — the end-to-end training-data pass
  // every stage above exists to serve, composed as ONE declarative plan:
  // exact dedup → MinHash-LSH near-dup removal (drop the higher doc_id of
  // every candidate pair) → quality gate. The text column never outlives
  // the stage that needs it.
  //
  // The survivor set feeds BOTH sides of the anti-join (kept rows + the
  // shingle/LSH side), and column pruning narrows each side differently —
  // so as two plan branches the md5 window shuffle would execute twice
  // per run (ReusedExchange cannot match differently-pruned exchanges).
  // A lazy `localCheckpoint` materializes the survivors ONCE and serves
  // both consumers from the stored partitions: the in-plan form of the
  // stage materialization a 100 TB pipeline would do between its dedup
  // and near-dup passes (checkpoint / intermediate table). Measured:
  // 1.50 s → 1.15 s at sf0.1 best-of-3; single-consumer compositions
  // (t_neardup_post_dedup, t_jaccard_post_dedup) stay checkpoint-free —
  // materializing a subtree that is read once only adds write cost.
  //
  // 100 TB shape: one hash shuffle (exact dedup), one signature agg (one
  // row per unique doc), one band-bucket agg, one broadcast-able anti-join
  // of the removed-id set, one final projection. Nothing quadratic except
  // the LSH in-bucket expansion, which exact dedup has already bounded.
  // ---------------------------------------------------------------------

  val cleanCorpus = Q(
    "t_clean_corpus",
    (s, d) => {
      import s.implicits._
      val survivors = dedupSurvivors(s, d).localCheckpoint(false)
      val removed = minhashPairs(shinglesOf(survivors))
        .select($"doc_b".as("rem_id"))
        .distinct()
      withQuality(survivors.join(removed, $"doc_id" === $"rem_id", "left_anti"))
        .select($"doc_id", $"lang", $"source", $"n_tokens", $"n_distinct",
          $"n_stop", $"ttr_pct", $"stop_pct", $"quality")
        .filter($"quality" =!= "poor")
    },
    Some {
      val stopPred = stopwords.map(w => s"x = '$w'").mkString(" or ")
      s"""
      WITH $oracleSurvivorsCte,
      $oracleMinhashSigBands,
      pairs AS (
        $oracleMinhashPairsSelect),
      kept AS (
        SELECT s.* FROM survivors s
        WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.doc_b = s.doc_id)),
      t AS (
        SELECT doc_id, lang, source,
               len($oracleToks) AS n_tokens,
               len(list_distinct($oracleToks)) AS n_distinct,
               len(list_filter($oracleToks, x -> $stopPred)) AS n_stop
        FROM kept)
      SELECT * FROM (
        SELECT doc_id, lang, source, n_tokens, n_distinct, n_stop,
               CAST(FLOOR(100.0 * n_distinct / n_tokens) AS BIGINT) AS ttr_pct,
               CAST(FLOOR(100.0 * n_stop / n_tokens) AS BIGINT) AS stop_pct,
               CASE WHEN n_tokens >= 20 AND FLOOR(100.0 * n_distinct / n_tokens) >= 25
                         AND FLOOR(100.0 * n_stop / n_tokens) <= 40 THEN 'good'
                    WHEN n_tokens >= 10 THEN 'fair'
                    ELSE 'poor' END AS quality
        FROM t)
      WHERE quality <> 'poor'
    """.stripMargin.trim
    },
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Per-stratum length quantiles — the threshold-setting statistic every
  // cleaning pipeline computes before choosing its min/max-length gates
  // (exact discrete quantiles, type-1: smallest x with cum-count ≥
  // ceil(q·n)). The scale-correct formulation is a HISTOGRAM + cumulative
  // sum, not a per-group sort: grouping on (lang, n_tokens) first shrinks
  // the window's input to the DISTINCT value count (bounded by the metric
  // range, not the corpus), so the per-lang ordered window never sees
  // corpus-sized partitions — the naive rank-per-document window would
  // funnel each language's full document set through one task. Integer
  // math only (ceil via (n·q + 99) DIV 100), so DuckDB matches exactly
  // where interpolated quantile_cont could drift.
  // ---------------------------------------------------------------------

  val lengthQuantiles = Q(
    "t_length_quantiles",
    (s, d) => {
      import s.implicits._
      val hist = docs(s, d)
        .select($"lang", size(toks).cast("long").as("n_tokens"))
        .groupBy($"lang", $"n_tokens")
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy($"lang").orderBy($"n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"lang")
      hist
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wAll))
        .groupBy($"lang")
        .agg(
          max($"n").as("n_docs"),
          min(when($"cum" >= expr("(n * 50 + 99) DIV 100"), $"n_tokens")).as("p50"),
          min(when($"cum" >= expr("(n * 90 + 99) DIV 100"), $"n_tokens")).as("p90"),
          min(when($"cum" >= expr("(n * 99 + 99) DIV 100"), $"n_tokens")).as("p99"))
    },
    Some(s"""
      WITH t AS (SELECT lang, len($oracleToks) AS n_tokens FROM documents),
      hist AS (SELECT lang, n_tokens, COUNT(*) AS c FROM t GROUP BY 1, 2),
      cum AS (
        SELECT lang, n_tokens, c,
               CAST(SUM(c) OVER (PARTITION BY lang ORDER BY n_tokens
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM hist)
      SELECT lang, MAX(n) AS n_docs,
             CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN n_tokens END) AS BIGINT) AS p50,
             CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN n_tokens END) AS BIGINT) AS p90,
             CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN n_tokens END) AS BIGINT) AS p99
      FROM cum GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Approximate per-stratum quantiles — the sketch twin of
  // t_length_quantiles, same discipline as uv_approx/t_token_heavy: at
  // 100 TB the exact histogram's per-(stratum, value) state is fine for
  // token LENGTHS (bounded value domain) but not for high-cardinality
  // metrics (per-doc byte sizes, scores in micros), where the GK
  // summary's O(1/eps) buffer per stratum is the scale path. Spark's
  // percentile_approx guarantees SOME rank of the returned value lies
  // within eps*n of the target rank (eps = 1/accuracy); the summary
  // content is merge-order-dependent, so the catalog row emits the
  // EXACT quantiles plus per-percentile booleans asserting the rank
  // band — order-independent theorems the oracle states as TRUE.
  // ---------------------------------------------------------------------

  private val qaAccuracy = 100L // eps = 1/accuracy = 1%

  val quantilesApprox = Q(
    "t_quantiles_approx",
    (s, d) => {
      import s.implicits._
      val counted = docs(s, d).select($"lang", size(toks).cast("long").as("n_tokens"))
      val approx = counted.groupBy($"lang")
        .agg(percentile_approx(
          $"n_tokens",
          array(lit(0.5), lit(0.9), lit(0.99)),
          lit(qaAccuracy.toInt)).as("ap"))
      val hist = counted.groupBy($"lang", $"n_tokens").agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy($"lang").orderBy($"n_tokens")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"lang")
      // rank band for percentile p (in basis points): the value's rank
      // interval [lt+1, le] must intersect [(p-eps)n - 1, (p+eps)n + 1] —
      // the extra rank is the floor Spark's GK summary carries on top of
      // eps*n (measured: accuracy=100, n=80 returned rank 39 for target
      // 40 where eps*n = 0.8)
      def bandOk(p: Long, le: Column, lt: Column, n: Column): Column =
        le * 10000L >= lit(p - 100L) * n - 10000L && lt * 10000L <= lit(p + 100L) * n + 10000L
      def leOf(i: Int): Column =
        sum(when($"n_tokens" <= element_at($"ap", i), $"c").otherwise(0L))
      def ltOf(i: Int): Column =
        sum(when($"n_tokens" < element_at($"ap", i), $"c").otherwise(0L))
      hist
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wAll))
        // one row per stratum broadcast onto the histogram — the
        // sanctioned tiny-side class (strata are low-cardinality)
        .join(broadcast(approx), "lang")
        .groupBy($"lang")
        .agg(
          max($"n").as("n_all"),
          min(when($"cum" >= expr("(n * 50 + 99) DIV 100"), $"n_tokens")).as("p50"),
          min(when($"cum" >= expr("(n * 90 + 99) DIV 100"), $"n_tokens")).as("p90"),
          min(when($"cum" >= expr("(n * 99 + 99) DIV 100"), $"n_tokens")).as("p99"),
          leOf(1).as("le50"), ltOf(1).as("lt50"),
          leOf(2).as("le90"), ltOf(2).as("lt90"),
          leOf(3).as("le99"), ltOf(3).as("lt99"))
        .select(
          $"lang", $"n_all".as("n_docs"), $"p50", $"p90", $"p99",
          bandOk(5000L, $"le50", $"lt50", $"n_all").as("a50_ok"),
          bandOk(9000L, $"le90", $"lt90", $"n_all").as("a90_ok"),
          bandOk(9900L, $"le99", $"lt99", $"n_all").as("a99_ok"))
    },
    Some(s"""
      WITH t AS (SELECT lang, len($oracleToks) AS n_tokens FROM documents),
      hist AS (SELECT lang, n_tokens, COUNT(*) AS c FROM t GROUP BY 1, 2),
      cum AS (
        SELECT lang, n_tokens, c,
               CAST(SUM(c) OVER (PARTITION BY lang ORDER BY n_tokens
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS n
      FROM hist)
      SELECT lang, MAX(n) AS n_docs,
             CAST(MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN n_tokens END) AS BIGINT) AS p50,
             CAST(MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN n_tokens END) AS BIGINT) AS p90,
             CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN n_tokens END) AS BIGINT) AS p99,
             TRUE AS a50_ok, TRUE AS a90_ok, TRUE AS a99_ok
      FROM cum GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Within-document repetition signals — the Gopher/"repetition" family
  // of quality heuristics: a document whose n-grams repeat internally
  // (boilerplate loops, keyword stuffing, template fill) is low-value
  // training data even when its length/TTR pass the coarse quality gate.
  // Two standard signals: the fraction of 3-grams that are internal
  // duplicates, and the share of the single most frequent bigram.
  //
  // Shape: the trigram signal is a pure per-row projection (no shuffle);
  // the top-bigram mode needs a per-(doc, bigram) count — explode →
  // count → per-doc max, two keyed shuffles, both linear. A per-row
  // higher-order-function mode would be O(tokens²) per document and is
  // exactly the trap the shingle pipeline's docs warn about.
  // ---------------------------------------------------------------------

  private val dupTriPctMax = 5L // >=5% duplicated trigrams → repetitive
  private val topBigramPctMax = 10L // >=10% single-bigram share → repetitive

  val repetition = Q(
    "t_repetition",
    (s, d) => {
      import s.implicits._
      val base = docs(s, d).select($"doc_id", toks.as("tk"))
      val tri = base.select(
        $"doc_id",
        size($"tk").cast("long").as("n_tokens"),
        expr("CAST(greatest(size(tk) - 2, 0) AS BIGINT)").as("n_tri"),
        // guard tiny docs: Spark's sequence(1, 0) DESCENDS ([1, 0]) where
        // DuckDB's generate_series(1, 0) is empty — never build the ngram
        // list unless there is at least one
        when($"tk".isNotNull && size($"tk") >= 3,
          expr("""CAST(size(array_distinct(transform(
                 |  sequence(1, size(tk) - 2),
                 |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
                 |                 element_at(tk, i + 2))))) AS BIGINT)""".stripMargin))
          .otherwise(lit(0L)).as("n_tri_dist"))
      val btop = base
        .filter(size($"tk") >= 2)
        .select($"doc_id", explode(bigramsOfTk).as("bg"))
        .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(max($"c").as("top_c"), sum($"c").as("n_bg"))
      tri.join(btop, Seq("doc_id"), "left")
        .withColumn(
          "dup_tri_pct",
          when($"n_tri" > 0, floor(lit(100.0) * ($"n_tri" - $"n_tri_dist") / $"n_tri"))
            .otherwise(lit(0L)).cast("long"))
        .withColumn(
          "top_bigram_pct",
          when(coalesce($"n_bg", lit(0L)) > 0, floor(lit(100.0) * $"top_c" / $"n_bg"))
            .otherwise(lit(0L)).cast("long"))
        .withColumn(
          "repetitive",
          $"dup_tri_pct" >= dupTriPctMax || $"top_bigram_pct" >= topBigramPctMax)
        .select($"doc_id", $"n_tokens", $"dup_tri_pct", $"top_bigram_pct", $"repetitive")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, $oracleToks AS tk FROM documents),
      tri AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
               greatest(len(tk) - 2, 0) AS n_tri,
               len(list_distinct(list_transform(
                 generate_series(1, greatest(len(tk) - 2, 0)),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS n_tri_dist
        FROM t),
      bg AS (
        SELECT doc_id, unnest($oracleBigramsOfTk) AS bg
        FROM t),
      bcnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      btop AS (SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_bg
               FROM bcnt GROUP BY 1)
      SELECT tri.doc_id, n_tokens,
             CASE WHEN n_tri > 0
                  THEN CAST(FLOOR(100.0 * (n_tri - n_tri_dist) / n_tri) AS BIGINT)
                  ELSE 0 END AS dup_tri_pct,
             CASE WHEN COALESCE(n_bg, 0) > 0
                  THEN CAST(FLOOR(100.0 * top_c / n_bg) AS BIGINT)
                  ELSE 0 END AS top_bigram_pct,
             (CASE WHEN n_tri > 0
                   THEN FLOOR(100.0 * (n_tri - n_tri_dist) / n_tri)
                   ELSE 0 END >= $dupTriPctMax
              OR CASE WHEN COALESCE(n_bg, 0) > 0
                      THEN FLOOR(100.0 * top_c / n_bg)
                      ELSE 0 END >= $topBigramPctMax) AS repetitive
      FROM tri LEFT JOIN btop ON tri.doc_id = btop.doc_id
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // BPE-ish pre-tokenization — the regex family GPT-2-style tokenizers
  // use ahead of merge rules: letter runs, digit runs, single
  // non-alphanumeric marks. ASCII-restricted so Java regex (Spark) and
  // RE2 (DuckDB) agree; the alternatives are disjoint character classes,
  // so leftmost-first vs leftmost-longest cannot diverge.
  // ---------------------------------------------------------------------

  private val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** BPE-token rows for [[tokenBpe]], shared with the PlanSpec pin. */
  private[graft] def bpeTokenRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    docs(s, d)
      .select(explode(expr(s"regexp_extract_all(text, '$bpePattern', 0)")).as("token"))
  }

  val tokenBpe = Q(
    "t_token_bpe",
    (s, d) => topTokens(s, bpeTokenRows(s, d)),
    Some(s"""
      WITH tok AS (
        SELECT unnest(regexp_extract_all(text, '$bpePattern')) AS token FROM documents),
      counted AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1)
      SELECT token, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
      FROM counted QUALIFY rnk <= 20
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // PII scrub — the C4/Dolma-style redaction pass every shipped corpus
  // runs before training: emails, IPv4 addresses, and phone numbers are
  // replaced with redaction tokens, with per-document counts of each
  // category. A pure per-row projection (regexp_count + regexp_replace,
  // all codegen'd) — zero shuffle, embarrassingly parallel, the cheapest
  // possible 100 TB shape (one scan, one write; payload = the corpus,
  // which is the floor for any rewrite pass).
  //
  // The three regexes are deliberately ASCII-simple so Java (Spark) and
  // RE2 (DuckDB) agree byte-for-byte: no backrefs, no lookaround, no
  // unicode classes — just classes, bounded quantifiers and \b. Scrub
  // order is email → IP → phone, each stage counting on ITS OWN input
  // (the text the previous stage produced), so the counts are exactly
  // the number of replacements each stage performed — an IP-shaped
  // fragment inside an already-redacted email can never double-count.
  // The synthetic corpus contains no PII (counts are all zero, which
  // both engines must agree on); PiiScrubPropertySpec drives planted
  // emails/phones/IPs through the same core and pins hand-computed
  // redactions.
  // ---------------------------------------------------------------------

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** (doc_id, scrubbed, n_emails, n_ips, n_phones, n_redacted) over any
    * (doc_id, text) frame — the operator core, exposed for the planted-PII
    * property spec.
    */
  private[graft] def piiScrubOn(docsDf: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), emailRe, "<EMAIL>")
    docsDf
      .withColumn("n_emails", regexp_count(col("text"), lit(emailRe)).cast("long"))
      .withColumn("t1", afterEmail)
      .withColumn("n_ips", regexp_count(col("t1"), lit(ipRe)).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), ipRe, "<IP>"))
      .withColumn("n_phones", regexp_count(col("t2"), lit(phoneRe)).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("t2"), phoneRe, "<PHONE>"))
      .withColumn("n_redacted", col("n_emails") + col("n_ips") + col("n_phones"))
      .select(col("doc_id"), col("scrubbed"), col("n_emails"), col("n_ips"),
        col("n_phones"), col("n_redacted"))
  }

  /** The scrub oracle over any FROM-able relation with (doc_id, text). */
  private def oraclePiiSql(from: String): String =
    s"""
      WITH t AS (
        SELECT doc_id, text,
               CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails,
               regexp_replace(text, '$emailRe', '<EMAIL>', 'g') AS t1
        FROM $from),
      u AS (
        SELECT doc_id, n_emails,
               CAST(len(regexp_extract_all(t1, '$ipRe')) AS BIGINT) AS n_ips,
               regexp_replace(t1, '$ipRe', '<IP>', 'g') AS t2
        FROM t)
      SELECT doc_id,
             regexp_replace(t2, '$phoneRe', '<PHONE>', 'g') AS scrubbed,
             n_emails, n_ips,
             CAST(len(regexp_extract_all(t2, '$phoneRe')) AS BIGINT) AS n_phones,
             n_emails + n_ips + CAST(len(regexp_extract_all(t2, '$phoneRe')) AS BIGINT) AS n_redacted
      FROM u
    """.stripMargin.trim

  val piiScrub = Q(
    "t_pii_scrub",
    (s, d) => piiScrubOn(docs(s, d).select(col("doc_id"), col("text"))),
    Some(oraclePiiSql("documents")),
  )

  /** The synthetic corpus is PII-free, so `t_pii_scrub` hash-matches on
    * all-zero counts — it cannot catch a Java-vs-RE2 regex divergence.
    * This committed fixture of planted PII (the property spec's cases,
    * including the adversarial shapes) makes the cross-engine regex and
    * staged-count parity REAL: both engines scrub actual PII every round.
    */
  private val piiFixtureDir =
    java.nio.file.Paths.get(graft.sources.Fixtures.fixturesDir, "pii_planted.parquet")
      .toAbsolutePath.toString

  private def ensurePiiFixture(s: SparkSession): DataFrame = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(piiFixtureDir))) {
      import s.implicits._
      Seq(
        (0L, "no pii here at all"),
        (1L, "mail me at alice.smith+spam@example.co.uk today"),
        (2L, "server 10.0.255.3 and 192.168.1.1."),
        (3L, "call 555-123-4567 or 555.123.4567 or 555 123 4567"),
        (4L, "root@10.0.0.12 logged in from 10.0.0.13"),
        (5L, "bob@x.io 1.2.3.4 555-000-1111"),
        (6L, "dial 123.456.7890 now"),
        (7L, "id ab1.2.3.4cd stays"),
        (8L, "twice bob@x.io carol@y.org and again bob@x.io"),
      ).toDF("doc_id", "text").coalesce(1).write.mode("ignore").parquet(piiFixtureDir)
    }
    s.read.parquet(piiFixtureDir)
  }

  val piiPlanted = Q(
    "t_pii_planted",
    (s, _) => piiScrubOn(ensurePiiFixture(s)),
    Some(oraclePiiSql(s"read_parquet('$piiFixtureDir/*.parquet')")),
  )

  // ---------------------------------------------------------------------
  // Incremental (delta) ingest dedup — the day-2 shape of every corpus
  // build: a new crawl batch lands AFTER the base corpus is curated, and
  // must be deduplicated against it WITHOUT re-deduplicating the base.
  // Every delta doc gets a verdict: `dup_of_base` (content already in the
  // corpus), `dup_in_delta` (a second copy inside the batch itself — the
  // first occurrence by doc_id is the one kept), or `kept`.
  //
  // 100 TB shape: the base side reduces to its distinct content-hash set
  // (one shuffle, ~16 bytes/doc — the persistent "corpus index" a real
  // pipeline stores between ingests), the delta side takes one
  // first-occurrence window and one LEFT equi-join, BOTH keyed on the
  // same text_hash, so the exchange is reused across the window and the
  // join. No broadcast hint: the base index is corpus-sized (AQE decides).
  // ---------------------------------------------------------------------

  /** Stable batch tag: ~20% of docs (salted md5-bucket 8-9 of 10) form
    * the incoming delta, the rest the already-curated base. The hash is
    * SALTED (doc_id || ':batch') — the same rule as the sample hash
    * (CurationOps): an unsalted `% 10` would be a pure function of the
    * split's `% 1000` bucket, so any future split boundary that is not a
    * multiple of 10 would skew which split strata land in the delta.
    */
  private val batchOf: Column =
    when(h60(concat(col("doc_id").cast("string"), lit(":batch"))) % 10 >= 8, lit("delta"))
      .otherwise(lit("base"))

  /** The operator core over any (doc_id, text, batch∈{base,delta}) frame —
    * exposed so DeltaDedupSpec can drive planted base/delta corpora
    * through the real plan (the catalog entry wires in the hash-derived
    * batch tag).
    */
  private[queries] def deltaDedupOn(tagged0: DataFrame): DataFrame = {
    val s = tagged0.sparkSession
    import s.implicits._
    val tagged = tagged0.select($"doc_id", md5($"text").as("text_hash"), $"batch")
    val baseIndex = tagged.filter($"batch" === "base").select($"text_hash").distinct()
    val w = Window.partitionBy($"text_hash").orderBy($"doc_id")
    tagged
      .filter($"batch" === "delta")
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(baseIndex.withColumn("in_base", lit(true)), Seq("text_hash"), "left")
      .select(
        $"doc_id",
        $"text_hash",
        when($"in_base", lit("dup_of_base"))
          .when($"rk" > 1, lit("dup_in_delta"))
          .otherwise(lit("kept"))
          .as("verdict"),
      )
  }

  val deltaDedup = Q(
    "t_delta_dedup",
    (s, d) =>
      deltaDedupOn(docs(s, d).select(col("doc_id"), col("text"), batchOf.as("batch"))),
    Some(s"""
      WITH t AS (
        SELECT doc_id, md5(text) AS text_hash,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM documents),
      b AS (SELECT DISTINCT text_hash FROM t WHERE batch = 'base'),
      d AS (
        SELECT doc_id, text_hash,
               ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rk
        FROM t WHERE batch = 'delta')
      SELECT d.doc_id, d.text_hash,
             CASE WHEN b.text_hash IS NOT NULL THEN 'dup_of_base'
                  WHEN d.rk > 1 THEN 'dup_in_delta'
                  ELSE 'kept' END AS verdict
      FROM d LEFT JOIN b USING (text_hash)
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Incremental NEAR-dup dedup — the LSH-grain half of day-2 ingest
  // (t_delta_dedup is the exact-hash half): every delta doc is checked
  // for MinHash band collisions against the BASE corpus's band buckets,
  // the same candidate criterion as t_minhash_lsh, but cross-set only —
  // base-base and delta-delta collisions are never materialized. Verdict
  // per delta doc: `neardup_of_base` (shares at least one band bucket
  // with a base doc) or `kept`.
  //
  // 100 TB shape: ONE signature aggregation over base+delta (at real
  // scale the base band rows are the stored LSH INDEX — written once at
  // curation time, read here, exactly like the exact-hash index of
  // t_delta_dedup), a window-priced mega-bucket cap shared with
  // t_minhash_lsh (boilerplate buckets skipped), then ONE more agg over
  // the same (band, bkey) partitioning computing, per bucket, whether a
  // base row is present and the (cap-bounded) set of delta doc ids —
  // NOT a delta-side × base-side self-join, which would either evaluate
  // the signature pipeline twice or gamble the whole query's cost on
  // ReuseExchange firing (measured: it does not under AQE here — the
  // initial r10 self-join form ran the shingle explode + 12-way minhash
  // agg twice, visible as doubled Generate/HashAggregate subtrees in
  // the final plan). Single-pass by construction beats single-pass by
  // optimizer luck. Output is bounded by the delta, never base×delta.
  // ---------------------------------------------------------------------

  /** The operator core over any (doc_id, text, batch∈{base,delta}) frame. */
  // ---------------------------------------------------------------------
  // Snapshot diff — the day-over-day corpus reconciliation an ingest
  // pipeline runs between two table versions: per doc_id, one of
  // added / removed / changed / unchanged by content hash. One full
  // outer equi-join on doc_id; the hashes travel, never the text. The
  // "new" snapshot here is a deterministic transformation of the same
  // table (drop ids %10=0, revise text of %7=0, add %13=0 under new
  // ids) so the oracle reproduces both sides exactly — the operator
  // core takes ANY two (doc_id, text) frames.
  // ---------------------------------------------------------------------
  private[graft] def snapshotDiffOn(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("h_old"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("h_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Disjoint id namespace for synthetic "added" snapshot docs:
    * max(doc_id) + 1, computed once (1-row driver hand-off, mirrored as
    * a scalar subquery in the oracles). A FIXED offset (the old 1e6)
    * would collide with real ids on corpora past that size, giving
    * duplicate (doc_id, day) snapshot rows whose window ordering — and
    * therefore the whole versioning — becomes nondeterministic.
    */
  private def syntheticIdOffset(s: SparkSession, d: String): Long = {
    val r = docs(s, d).agg(max(col("doc_id"))).first()
    if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
  }
  private val oracleIdOffset = "(SELECT MAX(doc_id) + 1 FROM documents)"

  val snapshotDiff = Q(
    "t_snapshot_diff",
    (s, d) => {
      import s.implicits._
      val off = syntheticIdOffset(s, d)
      val old = docs(s, d).select($"doc_id", $"text")
      val kept = old.filter($"doc_id" % 10 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 7 === 0, concat($"text", lit(" rev2")))
            .otherwise($"text").as("text"))
      val added = old.filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + off).as("doc_id"), $"text")
      snapshotDiffOn(old, kept.unionByName(added))
    },
    Some(s"""
      WITH old AS (SELECT doc_id, text FROM documents),
      news AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        FROM old WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT doc_id + $oracleIdOffset AS doc_id, text FROM old WHERE doc_id % 13 = 0),
      o AS (SELECT doc_id, md5(text) AS h_old FROM old),
      n AS (SELECT doc_id, md5(text) AS h_new FROM news)
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN h_old = h_new THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // SCD2 dimension history — snapshot_diff's day-2 big sibling: given a
  // SEQUENCE of corpus snapshots, build the slowly-changing-dimension
  // type-2 table warehouses keep for every dimension: one row per
  // (doc, contiguous content version) with its validity window and a
  // current-row flag. Three deterministic snapshot days (day 0 = the
  // table; day 1 = t_snapshot_diff's transformation; day 2 = a second
  // drop/revise/add pass over day 1) so the oracle reproduces every
  // side exactly.
  //
  // Version boundaries are lag()-detected per doc (content hash changed
  // OR a presence gap — a doc that disappears and returns starts a new
  // version, the SCD2 convention); a running sum of boundaries numbers
  // the versions, and one groupBy collapses each run to
  // [valid_from, valid_to]. All windows partition by doc_id — keyed,
  // 3 rows per key, no skew; at 100 TB the snapshots are separate table
  // versions and this is one union + one keyed window + one keyed agg.
  // ---------------------------------------------------------------------

  /** The SCD2 core over any (doc_id, d, h) snapshot-membership frame:
    * version boundaries (hash change or presence gap), running version
    * numbers, one row per run with its validity window. Exposed so the
    * spec can drive planted histories — gaps, reverts, single-day lives
    * — the deterministic catalog snapshots can't express.
    */
  private[graft] def scd2On(snaps: DataFrame, lastDay: Long): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("d"))
    snaps
      .withColumn("is_new",
        when(lag(col("h"), 1).over(w).isNull
          || lag(col("h"), 1).over(w) =!= col("h")
          || lag(col("d"), 1).over(w) =!= col("d") - 1L, 1L).otherwise(0L))
      .withColumn("version",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("version"))
      .agg(
        min(col("h")).as("content_hash"), // constant within a run
        min(col("d")).as("valid_from"),
        max(col("d")).as("valid_to"))
      .withColumn("is_current", col("valid_to") === lastDay)
  }

  /** The three deterministic snapshot days the SCD2 catalog row (and
    * its append spec) share. Added ids use [[syntheticIdOffset]]
    * multiples: day-1 additions land in (off, 2·off), day-2 additions
    * (derived from day 1) below 2·off + off·2 — disjoint from every
    * real and day-1 id at ANY corpus size.
    */
  private[graft] def scd2SnapshotDays(s: SparkSession, d: String): Seq[DataFrame] = {
    import s.implicits._
    val off = syntheticIdOffset(s, d)
    val d0 = docs(s, d).select($"doc_id", $"text")
    val d1 = d0.filter($"doc_id" % 10 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 7 === 0, concat($"text", lit(" rev2")))
          .otherwise($"text").as("text"))
      .unionByName(d0.filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + off).as("doc_id"), $"text"))
    val d2 = d1.filter($"doc_id" % 11 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 5 === 0, concat($"text", lit(" rev3")))
          .otherwise($"text").as("text"))
      .unionByName(d1.filter($"doc_id" % 17 === 0)
        .select(($"doc_id" + 2L * off).as("doc_id"), $"text"))
    Seq(d0, d1, d2)
  }

  val scd2History = Q(
    "t_scd2_history",
    (s, d) => {
      import s.implicits._
      val days = scd2SnapshotDays(s, d)
      val snaps = days.zipWithIndex
        .map { case (df, i) => df.withColumn("d", lit(i.toLong)) }
        .reduce(_ unionByName _)
        .select($"doc_id", $"d", md5($"text").as("h"))
      scd2On(snaps, lastDay = 2L)
    },
    Some(oracleScd2HistorySql),
    bench = true, // multi-snapshot keyed-window shape the headline set lacks
  )

  private def oracleScd2HistorySql: String = s"""
      WITH d0 AS (SELECT doc_id, text FROM documents),
      d1 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        FROM d0 WHERE doc_id % 10 <> 0
        UNION ALL SELECT doc_id + $oracleIdOffset, text FROM d0 WHERE doc_id % 13 = 0),
      d2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' rev3' ELSE text END AS text
        FROM d1 WHERE doc_id % 11 <> 0
        UNION ALL SELECT doc_id + 2 * $oracleIdOffset, text FROM d1 WHERE doc_id % 17 = 0),
      snaps AS (
        SELECT doc_id, CAST(0 AS BIGINT) AS d, md5(text) AS h FROM d0
        UNION ALL SELECT doc_id, 1, md5(text) FROM d1
        UNION ALL SELECT doc_id, 2, md5(text) FROM d2),
      marked AS (
        SELECT doc_id, d, h,
               CASE WHEN LAG(h) OVER w IS NULL OR LAG(h) OVER w <> h
                         OR LAG(d) OVER w <> d - 1
                    THEN 1 ELSE 0 END AS is_new
        FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY d)),
      ver AS (
        SELECT doc_id, d, h,
               SUM(is_new) OVER (PARTITION BY doc_id ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS version
        FROM marked)
      SELECT doc_id, CAST(version AS BIGINT) AS version, MIN(h) AS content_hash,
             MIN(d) AS valid_from, MAX(d) AS valid_to,
             MAX(d) = 2 AS is_current
      FROM ver GROUP BY doc_id, version
    """.stripMargin.trim

  /** The purge path hash-gated end to end: the stored table is built by
    * the incremental fold (write day 0, append days 1-2), every
    * 17th-mod-2 doc's WHOLE history is purged, and the read-back must
    * equal the inline rebuild's history minus those docs — an
    * unapplied tombstone, a latest row left behind, or a wrongly
    * windowed purge all surface as a hash mismatch.
    */
  val scd2Purge = Q(
    "t_scd2_purge",
    (s, d) => {
      import s.implicits._
      val days = scd2SnapshotDays(s, d)
      val dir = graft.sources.Scratch.dir("graft-scd2-purge")
      writeScd2(days.head, 0L, dir)
      days.zipWithIndex.drop(1).foreach { case (df, i) =>
        appendScd2Snapshot(df, i.toLong, dir)
      }
      purgeScd2Docs(
        readScd2(s, dir).filter($"doc_id" % 17 === 2).select($"doc_id").distinct(),
        dir)
      readScd2(s, dir)
    },
    Some(s"""
      SELECT * FROM ($oracleScd2HistorySql) h WHERE h.doc_id % 17 <> 2
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Stored SCD2 table with INCREMENTAL append — scd2On's day-2
  // discipline (the same lifecycle the four stored indexes follow):
  // at 100 TB you fold snapshot day N into the stored dimension table
  // without rescanning history. Layout under the IndexManifest commit
  // protocol:
  //
  //   latest/  (rewrite)  one row per doc: its NEWEST version row
  //                       (doc_id, version, content_hash, valid_from,
  //                       valid_to) — open or closed; |docs|-sized.
  //   closed/  (append)   version rows strictly superseded by a newer
  //                       version of the same doc; append-only, never
  //                       rescanned by the fold.
  //   meta/    (rewrite)  1 row: last_day appended (drives is_current
  //                       at read time, scd2On's valid_to = lastDay
  //                       convention).
  //
  // The fold is ONE full-outer equi-join of `latest` with the day's
  // snapshot hashes — keyed on doc_id, no windows, history untouched:
  //   - absent today            -> latest row unchanged
  //   - new doc                 -> version 1, [day, day]
  //   - same hash, contiguous   -> extend valid_to = day
  //   - changed hash OR presence gap -> old row to closed,
  //                                version+1 opens [day, day]
  // (a doc that disappears and returns starts a new version even with
  // unchanged content — the same gap convention scd2On lag-detects).
  // Scd2AppendSpec pins write+append+append equal to the scd2On full
  // rebuild on the catalog's three snapshot days, plus planted gap /
  // revert / reappear histories.
  //
  // 100 TB cost honesty: the daily `latest` rewrite is O(|docs|) — and
  // that is ASYMPTOTICALLY INHERENT to this convention, not a layout
  // choice: valid_to is the doc's last-seen day (what makes presence
  // gaps detectable at the next arrival), so every doc present in
  // today's snapshot updates its latest row daily regardless of
  // storage. A merge-on-read split was considered and rejected: the
  // update volume IS the present-snapshot size, so deltas don't
  // shrink the write, they only defer it to read-time resolution. The
  // real waste is long-dead docs riding the rewrite forever; at
  // deployment scale, partition `latest` by a doc_id hash bucket and
  // age dormant buckets out of the daily rewrite (bucket-level
  // carry-forward) — a layout refinement under the same manifest
  // protocol, not a semantics change.
  // ---------------------------------------------------------------------

  private def scd2Versions(snap: DataFrame, day: Long): DataFrame =
    snap.select(col("doc_id"), md5(col("text")).as("content_hash"),
      lit(1L).as("version"), lit(day).as("valid_from"), lit(day).as("valid_to"))

  /** Initialize the stored SCD2 table from the first snapshot day. */
  def writeScd2(snap: DataFrame, day: Long, path: String): Unit = {
    val S = StoredIndex.Scd2
    val s = snap.sparkSession
    import s.implicits._
    val v = scd2Versions(snap, day)
    // latest and closed share `v`'s plan: the declaration runs Scd2's
    // writes in order, never concurrently (then the empty tombstones)
    S.build(s, path)(
      "latest" -> (() => S.write(v, path, "latest", 0L)),
      // closed starts empty, schema-carrying
      "closed" -> (() => S.write(v.filter(lit(false)), path, "closed", 0L)),
      "meta" -> (() => S.write(Seq(day).toDF("last_day").coalesce(1), path, "meta", 0L)))
  }

  /** Stage (but do NOT commit) epoch `e` of an SCD2 fold — exposed for
    * the atomicity drill. Caller contract: `day` is strictly greater
    * than the stored last_day (snapshots fold in order).
    */
  private[graft] def stageScd2Append(
      snap: DataFrame, day: Long, path: String, e: Long): Unit = {
    val S = StoredIndex.Scd2
    val s = snap.sparkSession
    import s.implicits._
    val latest = S.read(s, path, "latest")
    val today = snap.select(col("doc_id"), md5(col("text")).as("h_new"))
    val j = latest.join(today, Seq("doc_id"), "full_outer")
      .localCheckpoint(true) // one join feeds latest-rewrite AND closed-append
    val extend = col("h_new").isNotNull && col("content_hash").isNotNull &&
      col("h_new") === col("content_hash") && col("valid_to") === day - 1L
    val supersede = col("h_new").isNotNull && col("content_hash").isNotNull && !extend
    val newLatest = j.select(col("doc_id"),
      when(col("content_hash").isNull || supersede, col("h_new"))
        .otherwise(col("content_hash")).as("content_hash"),
      when(col("content_hash").isNull, lit(1L))
        .when(supersede, col("version") + 1L)
        .otherwise(col("version")).as("version"),
      when(col("content_hash").isNull || supersede, lit(day))
        .otherwise(col("valid_from")).as("valid_from"),
      when(col("content_hash").isNull || supersede, lit(day))
        .when(extend, lit(day))
        .otherwise(col("valid_to")).as("valid_to"))
    S.run(
      "latest" -> (() => S.write(newLatest, path, "latest", e)),
      "closed" -> (() =>
        S.write(j.filter(supersede)
          .select(col("doc_id"), col("content_hash"), col("version"),
            col("valid_from"), col("valid_to")), path, "closed", e)),
      "meta" -> (() => S.write(Seq(day).toDF("last_day").coalesce(1), path, "meta", e)))
  }

  /** Fold snapshot `day` into the stored SCD2 table. Crash-atomic via
    * the manifest: stage epoch e, flip last; a killed fold is invisible
    * and its retry overwrites the orphan stage.
    *
    * The stored `meta.last_day` doubles as a replay fence: folding a
    * day at or below it is either a replay of an append that already
    * COMMITTED (which would emit a spurious version + closed row —
    * same-hash/same-day hits the supersede branch) or out-of-order
    * ingest; both fail here instead of silently corrupting history.
    */
  def appendScd2Snapshot(snap: DataFrame, day: Long, path: String): Unit = {
    val lastDay = StoredIndex.Scd2.read(snap.sparkSession, path, "meta").first().getLong(0)
    if (day <= lastDay)
      throw new IllegalArgumentException(
        s"appendScd2Snapshot(day=$day) but the stored table already folded " +
          s"day $lastDay - replaying a committed append (or misordered ingest) " +
          "would double-count; snapshots fold in strictly increasing day order")
    StoredIndex.Scd2.nextEpoch(path)(stageScd2Append(snap, day, path, _))
  }

  /** Fold the accreted closed-row epochs into one directory and raise
    * the window floor (latest/meta copied forward) — the SCD2 member of
    * the compaction family. The fold writes the RESOLVED closed rows
    * (window minus purge tombstones), so erasure becomes physical here.
    */
  def compactScd2(s: SparkSession, path: String): Unit =
    StoredIndex.Scd2.compact(s, path)

  /** Stage (but do NOT commit) a purge epoch — for the kill drill. */
  private[queries] def stageScd2Purge(ids: DataFrame, path: String, e: Long): Unit = {
    val S = StoredIndex.Scd2
    val s = ids.sparkSession
    val del = ids.select(col("doc_id").cast("long")).distinct()
      .localCheckpoint(true) // feeds the tombstone write AND the latest rewrite
    S.run(
      StoredIndex.Dels -> (() => S.write(del, path, StoredIndex.Dels, e)),
      "latest" -> (() =>
        S.write(S.read(s, path, "latest").join(del, Seq("doc_id"), "left_anti"),
          path, "latest", e)),
      "meta" -> (() => S.write(S.read(s, path, "meta").coalesce(1), path, "meta", e)))
  }

  /** Purge documents' ENTIRE version history from the stored SCD2 table
    * — the dimension-table half of right-to-be-forgotten, and a
    * different contract from daily closure: closure records that a doc
    * LEFT the corpus (its history stays queryable); purge erases that
    * the doc was ever there. Open rows leave via the latest rewrite,
    * closed history via a tombstone epoch (resolved under epoch
    * precedence by [[graft.sources.StoredIndex.resolved]]); a doc
    * re-added by a LATER snapshot starts a fresh version-1 history that
    * the old tombstone cannot touch (epoch precedence), and
    * [[compactScd2]] makes the erasure physical. Crash-atomic via the
    * manifest; same single-writer/replay discipline as the appenders.
    */
  def purgeScd2Docs(ids: DataFrame, path: String): Unit =
    StoredIndex.Scd2.nextEpoch(path)(stageScd2Purge(ids, path, _))

  /** The full SCD2 history from the stored table — closed ∪ latest with
    * scd2On's exact output contract (is_current = valid_to == last_day),
    * so the append spec can demand frame equality with a full rebuild.
    */
  def readScd2(s: SparkSession, path: String): DataFrame = {
    val lastDay = StoredIndex.Scd2.read(s, path, "meta").first().getLong(0)
    StoredIndex.Scd2.resolved(s, path)
      .unionByName(StoredIndex.Scd2.read(s, path, "latest"))
      .select(col("doc_id"), col("version"), col("content_hash"),
        col("valid_from"), col("valid_to"),
        (col("valid_to") === lastDay).as("is_current"))
  }

  /** Time-travel read over an SCD2 history frame: corpus membership as
    * of `day` — (doc_id, content_hash) of every doc with a version
    * valid on that day. Presence gaps are genuinely absent (no version
    * window covers a gap day), so as-of(d) over the history EQUALS the
    * original day-d snapshot — the information-completeness property
    * `t_scd2_asof` oracle-gates and Scd2Spec pins per day against both
    * the inline and the stored table. Plan: one partition-prunable
    * range filter over the history, no windows, no joins.
    */
  def scd2AsOf(history: DataFrame, day: Long): DataFrame =
    history
      .filter(col("valid_from") <= day && col("valid_to") >= day)
      .select(col("doc_id"), col("content_hash"))

  val scd2AsOfQ = Q(
    "t_scd2_asof",
    (s, d) => {
      import s.implicits._
      val snaps = scd2SnapshotDays(s, d).zipWithIndex
        .map { case (df, i) => df.withColumn("d", lit(i.toLong)) }
        .reduce(_ unionByName _)
        .select($"doc_id", $"d", md5($"text").as("h"))
      // day 1 is the interesting probe: mid-history, after adds/revisions
      // and before the day-2 churn — the round-trip must reproduce its
      // membership exactly from version windows alone
      scd2AsOf(scd2On(snaps, lastDay = 2L), day = 1L)
    },
    Some(s"""
      WITH d0 AS (SELECT doc_id, text FROM documents),
      d1 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        FROM d0 WHERE doc_id % 10 <> 0
        UNION ALL SELECT doc_id + $oracleIdOffset, text FROM d0 WHERE doc_id % 13 = 0)
      SELECT doc_id, md5(text) AS content_hash FROM d1
    """.stripMargin.trim),
  )

  /** The batch-tagged docs frame the delta-ingest specs share (the same
    * hash split the t_delta_* catalog rows use).
    */
  private[graft] def taggedForSpec(s: SparkSession, d: String): DataFrame =
    fannedDocs(s, d).withColumn("batch", batchOf)

  /** Write the base corpus's LSH index: raw band rows plus per-bucket
    * base counts — the persisted artifact a day-2 ingest probes instead
    * of re-signing the whole base corpus (the stored sibling of
    * [[deltaNearDupOn]], completing the stored-index triad with the
    * postings index and the IVF-PQ index). At 100 TB the band rows are
    * ~nBands x 8 B/doc; the bucket-count table is smaller still.
    * Both components land as epoch 0 under the
    * [[graft.sources.IndexManifest]] commit protocol (bands append-only,
    * counts rewrite-per-epoch); the manifest flip is the commit point.
    */
  def writeLshIndex(base: DataFrame, path: String): Unit = {
    val L = StoredIndex.Lsh
    val s0 = base.sparkSession
    // independent epoch-0 components under one commit, overlapped
    // (guide §2.6); the shingle subtree recomputes concurrently in both
    // band writes — the barrier-free trade (the checkpoint rule,
    // SCALING.md ("Round-21 (optimization round 1)")).
    // Each task builds ITS OWN plan: concurrent write commands must not
    // share a live plan instance at or above an exchange (the ProfRace3
    // AQE corruption, SCALING.md ("Round-22 (optimization round 2)") —
    // see SearchOps.writePostingsIndex).
    def rows() = minhashBandRows(shinglesOfDf(base.select(col("doc_id"), col("text"))))
    L.build(s0, path)(
      "bands" -> (() => L.write(rows(), path, "bands", 0L)),
      "bucket_counts" -> (() =>
        L.write(rows().groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("n_base")), path, "bucket_counts", 0L)))
  }

  /** Stage (but do NOT commit) a forget epoch — for the kill drill. */
  private[queries] def stageLshDelete(ids: DataFrame, path: String, e: Long): Unit = {
    val L = StoredIndex.Lsh
    val s = ids.sparkSession
    val del = ids.select(col("doc_id").cast("long")).distinct()
      .localCheckpoint(true) // feeds the tombstone write AND the count give-back
    val gone = L.resolved(s, path).join(del, "doc_id")
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n_base"))
    // tombstone write and count give-back are independent stage writes
    // under one advance — overlapped (guide §2.6)
    L.run(
      StoredIndex.Dels -> (() => L.write(del, path, StoredIndex.Dels, e)),
      "bucket_counts" -> (() =>
        L.write(L.giveBack(s, path, "bucket_counts", gone), path, "bucket_counts", e)))
  }

  /** Forget documents from the stored LSH index — the near-dup half of
    * right-to-be-forgotten: the ids land as a TOMBSTONE epoch, and the
    * bucket counts give the deleted docs' band mass back in the same
    * epoch, so a future delta that collided ONLY with forgotten docs
    * screens `kept`, exactly as against an index rebuilt without them.
    * Epoch precedence as the other forget paths (delete-then-re-admit
    * resolves to the new band rows); [[compactLshIndex]] makes removal
    * physical. Caller contract: ids are currently-indexed docs —
    * forgetting an unknown or already-forgotten id double-subtracts
    * the counts (the appenders' ledger discipline).
    */
  def deleteFromLshIndex(ids: DataFrame, path: String): Unit =
    StoredIndex.Lsh.nextEpoch(path)(stageLshDelete(ids, path, _))

  /** Stage (but do NOT commit) epoch `e` of an LSH append: the delta's
    * band rows land under `bands/epoch=e`, and a FULL merged copy of
    * the bucket counts (old ⊕ delta — the count table is ~one row per
    * occupied bucket, far smaller than the corpus) lands under
    * `bucket_counts/epoch=e`. Readers keep resolving epoch e-1 until
    * [[appendLshIndex]] flips the manifest; both writes are
    * overwrite-mode into e's own directories, so a crashed stage is
    * re-runnable without double-counting. Exposed for the atomicity
    * spec, which kills the append exactly here.
    */
  private[graft] def stageLshAppend(keptDelta: DataFrame, path: String, e: Long): Unit = {
    val L = StoredIndex.Lsh
    val s = keptDelta.sparkSession
    val rows = minhashBandRows(shinglesOfDf(keptDelta.select(col("doc_id"), col("text"))))
      .localCheckpoint(true) // one signing pass feeds bands AND the counts merge
    // both stage writes read the materialized rows blocks — independent,
    // overlapped (guide §2.6)
    L.run(
      "bands" -> (() => L.write(rows, path, "bands", e)),
      // reads committed epoch e-1, writes epoch e: no self-overwrite, so no
      // pre-materialization checkpoint needed (snapshot isolation for free)
      "bucket_counts" -> (() =>
        L.write(L.add(s, path, "bucket_counts",
          rows.groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n_base"))),
          path, "bucket_counts", e)))
  }

  /** Fold an ADMITTED delta into the stored LSH index — the write half
    * of the day-2 loop [[deltaNearDupFromIndex]] reads. After the
    * append, copies of the delta's docs collide with the index exactly
    * like copies of the original base — CorpusSignalsSpec closes that
    * loop. Caller contract: append only docs the ingest KEPT, else the
    * index accumulates the duplicates it exists to reject.
    *
    * Crash-atomic via [[graft.sources.IndexManifest]]: data stages into
    * epoch e's directories first, the manifest flips last. A failure
    * anywhere before the flip leaves readers on epoch e-1 and the
    * orphan stage inert; re-running the append overwrites the stage and
    * commits — idempotent retry, no duplicate band rows.
    * Replay hazard (IndexManifest writer contract): retry idempotence
    * covers appends that crashed BEFORE the manifest flip; re-running
    * an append that already COMMITTED folds the same delta in twice.
    * The caller's ingest ledger must not re-feed committed batches.
    */
  def appendLshIndex(keptDelta: DataFrame, path: String): Unit =
    StoredIndex.Lsh.nextEpoch(path)(stageLshAppend(keptDelta, path, _))

  /** Fold the accreted band-row epochs into one fresh directory and
    * raise the manifest's window floor (counts copied forward) — run
    * after N appends to stop small-file/directory accretion. The fold
    * writes the RESOLVED band rows, so forgets become physical. Reader
    * equality is the manifest's contract; IndexManifestSpec pins it.
    */
  def compactLshIndex(s: SparkSession, path: String): Unit =
    StoredIndex.Lsh.compact(s, path)

  // ---------------------------------------------------------------------
  // Stored shingle-df index — the day-2 form of t_shingle_novelty:
  // "how novel are TODAY'S arrivals against the historical corpus"
  // without re-shingling history. One component under the manifest:
  //
  //   shingle_counts/ (append-only, partitioned by a shingle-hash
  //   bucket): per-epoch (sh, n) doc-frequency counts. Counts are
  //   ADDITIVE, so appends never rewrite anything — a reader sums
  //   across committed epochs, and compaction just re-sums into one
  //   directory. The artifact is shingle-VOCABULARY-sized (aggregated),
  //   not token-stream-sized.
  //
  // deltaNoveltyFromIndex is the screen: the delta's distinct-in-doc
  // shingles left-join the summed counts on the shingle key (the same
  // one-equi-join class as the batch operator, but the corpus side is
  // the pre-aggregated stored table); a shingle with no stored row is
  // novel-vs-base. The day-2 loop: screen arrivals, keep the novel
  // ones, fold them in with appendShingleIndex — after which their
  // copies score novelty 0 (ShingleIndexSpec closes that loop).
  // ---------------------------------------------------------------------

  private def shingleCounts(docsDf: DataFrame): DataFrame =
    shinglesOfDf(docsDf)
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .withColumn("bucket", pmod(h60(col("sh")), lit(64L)))

  /** Build + persist the shingle-df index from a base corpus. */
  def writeShingleIndex(base: DataFrame, path: String): Unit =
    StoredIndex.Shingle.build(base.sparkSession, path)(
      "shingle_counts" -> (() =>
        StoredIndex.Shingle.writeMain(shingleCounts(base), path, 0L)))

  /** Stage (but do NOT commit) epoch `e` of a shingle-count append —
    * exposed for the atomicity drill. Additive counts: the stage is
    * just the DELTA's own counts in e's directory, no merge read.
    */
  private[graft] def stageShingleAppend(delta: DataFrame, path: String, e: Long): Unit =
    StoredIndex.Shingle.writeMain(shingleCounts(delta), path, e)

  /** Fold new docs' shingle counts into the stored index (additive —
    * caller contract as the other appenders: fold each doc once).
    * Replay hazard (IndexManifest writer contract): retry idempotence
    * covers appends that crashed BEFORE the manifest flip; re-running
    * an append that already COMMITTED folds the same delta in twice.
    * The caller's ingest ledger must not re-feed committed batches.
    */
  def appendShingleIndex(delta: DataFrame, path: String): Unit =
    StoredIndex.Shingle.nextEpoch(path)(stageShingleAppend(delta, path, _))

  /** Forget documents' shingle mass — the novelty-screen member of the
    * forget family, and the cheapest of all of them: counts are
    * ADDITIVE, so forgetting is an append of NEGATED counts (no
    * tombstones, no epoch precedence — the sum is the resolution). The
    * summing reader hides shingles whose df reaches 0 (they become
    * genuinely unknown again — a 0-count row would still read as
    * "known" to the novelty screen), and the summing compactor drops
    * them physically. Caller contract: pass the docs' ORIGINAL text —
    * the index stores no per-doc rows, so the ingest ledger's content
    * is the source of truth, and forgetting a never-indexed doc (or
    * the same doc twice) drives counts negative — the appenders'
    * ledger discipline.
    */
  def forgetShingleDocs(docs: DataFrame, path: String): Unit =
    StoredIndex.Shingle.nextEpoch(path)(
      StoredIndex.Shingle.writeMain(shingleCounts(docs).withColumn("n", -col("n")), path, _))

  /** Re-sum the committed epoch window into one directory and raise the
    * window floor — the summing compactor (the generic layout-only
    * compact would keep duplicate shingle rows across folded epochs;
    * correct for a summing reader, but this restores one-row-per-
    * shingle). Forgotten shingles (summed df <= 0) drop out of the fold
    * physically. The declaration's guarded commit refuses to raise the
    * floor over an append that landed while the fold ran.
    */
  def compactShingleIndex(s: SparkSession, path: String): Unit =
    StoredIndex.Shingle.compact(s, path, fold = Some(e =>
      StoredIndex.Shingle.writeMain(
        storedShingleDf(s, path)
          .withColumnRenamed("sdf", "n") // back to the component schema
          .withColumn("bucket", pmod(h60(col("sh")), lit(64L))),
        path, e)))

  /** The summed (sh, sdf) view of the committed window. Shingles whose
    * sum reached 0 (forgotten) are dropped — a 0-count row would still
    * read as "known" to the left-join novelty screen.
    */
  private[graft] def storedShingleDf(s: SparkSession, path: String): DataFrame =
    StoredIndex.Shingle.readWindow(s, path, "shingle_counts")
      .groupBy(col("sh")).agg(sum(col("n")).as("sdf"))
      .filter(col("sdf") > 0L)

  /** The inline operator core of [[deltaNoveltyFromIndex]] over a
    * (doc_id, text, batch∈{base,delta}) frame — the oracle-gated half
    * of the family (`t_delta_novelty`), and what the parity spec pins
    * the stored path against: novelty of each delta doc's distinct
    * shingles vs the BASE set, one equi-join on the shingle key.
    */
  private[graft] def deltaNoveltyOn(tagged: DataFrame): DataFrame = {
    val sh = shinglesOfDf(tagged.select(col("doc_id"), col("text")))
      .join(tagged.select(col("doc_id"), col("batch")), "doc_id")
    val baseSh = sh.filter(col("batch") === "base").select(col("sh")).distinct()
    sh.filter(col("batch") === "delta")
      .join(baseSh.withColumn("known", lit(1L)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        coalesce(sum(col("known")), lit(0L)).as("n_known"))
      .withColumn("novelty_ppm",
        expr("((n_shingles - n_known) * 1000000L) div n_shingles"))
  }

  val deltaNovelty = Q(
    "t_delta_novelty",
    (s, d) => deltaNoveltyOn(fannedDocs(s, d).withColumn("batch", batchOf)),
    Some(s"""
      WITH doc0 AS (
        SELECT doc_id, text,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM documents),
      shr AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM doc0),
      wb AS (SELECT shr.doc_id, shr.sh, doc0.batch FROM shr JOIN doc0 USING (doc_id)),
      bs AS (SELECT DISTINCT sh FROM wb WHERE batch = 'base'),
      dd AS (
        SELECT wb.doc_id, CASE WHEN bs.sh IS NOT NULL THEN 1 ELSE 0 END AS known
        FROM wb LEFT JOIN bs USING (sh) WHERE wb.batch = 'delta')
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(known) AS BIGINT) AS n_known,
             CAST(((COUNT(*) - SUM(known)) * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
      FROM dd GROUP BY 1
    """.stripMargin.trim),
  )

  /** Admission threshold for the novelty day-3 lifecycle: keep a doc
    * when the majority of its shingles are unseen.
    */
  private val noveltyKeepPpm = 500000L

  /** The novelty index's day-3 lifecycle, hash-gated end to end like
    * t_delta_neardup_day3: build the base index, screen day 2, fold in
    * ONLY the majority-novel keepers, screen day 3 against the GROWN
    * index. The oracle recomputes the whole lifecycle from scratch
    * (base shingles ∪ kept-day-2 shingles as day-3's known set), so a
    * wrong merge in appendShingleIndex is a hash mismatch, not just a
    * spec failure.
    */
  val deltaNoveltyDay3 = Q(
    "t_delta_novelty_day3",
    (s, d) => {
      import s.implicits._
      val sliced = fannedDocs(s, d).withColumn("slice", sliceOf)
      val base = sliced.filter($"slice" === "base").select($"doc_id", $"text")
      val d1 = sliced.filter($"slice" === "d1").select($"doc_id", $"text")
      val d2 = sliced.filter($"slice" === "d2").select($"doc_id", $"text")
      val dir = graft.sources.Scratch.dir("graft-shingle-day3")
      writeShingleIndex(base, dir)
      val kept1 = d1.join(
        deltaNoveltyFromIndex(d1, dir)
          .filter($"novelty_ppm" >= noveltyKeepPpm).select($"doc_id"),
        "doc_id")
      appendShingleIndex(kept1, dir)
      deltaNoveltyFromIndex(d2, dir)
    },
    Some(s"""
      WITH doc0 AS (
        SELECT doc_id, text,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8 THEN 'd2'
                    WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 6 THEN 'd1'
                    ELSE 'base' END AS slice
        FROM documents),
      shr AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM doc0),
      wb AS (SELECT shr.doc_id, shr.sh, doc0.slice FROM shr JOIN doc0 USING (doc_id)),
      bs AS (SELECT DISTINCT sh FROM wb WHERE slice = 'base'),
      d1n AS (
        SELECT wb.doc_id, COUNT(*) AS n_sh,
               SUM(CASE WHEN bs.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_known
        FROM wb LEFT JOIN bs USING (sh) WHERE wb.slice = 'd1' GROUP BY 1),
      kept1 AS (
        SELECT doc_id FROM d1n
        WHERE ((n_sh - n_known) * 1000000) // n_sh >= $noveltyKeepPpm),
      known2 AS (
        SELECT sh FROM bs
        UNION
        SELECT wb.sh FROM wb JOIN kept1 USING (doc_id) WHERE wb.slice = 'd1'),
      dd AS (
        SELECT wb.doc_id, CASE WHEN k.sh IS NOT NULL THEN 1 ELSE 0 END AS known
        FROM wb LEFT JOIN known2 k USING (sh) WHERE wb.slice = 'd2')
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(known) AS BIGINT) AS n_known,
             CAST(((COUNT(*) - SUM(known)) * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
      FROM dd GROUP BY 1
    """.stripMargin.trim),
  )

  /** Per-arrival novelty vs the STORED corpus: (doc_id, n_shingles,
    * n_known, novelty_ppm) — novelty = fraction of the doc's distinct
    * shingles absent from the index (note the semantic shift from
    * t_shingle_novelty's within-corpus df == 1: here the reference set
    * is the historical corpus, the ingest-prioritization form). Docs
    * with < 3 tokens have no shingles and drop out, like the batch
    * operator.
    */
  def deltaNoveltyFromIndex(delta: DataFrame, path: String): DataFrame = {
    val s = delta.sparkSession
    shinglesOfDf(delta.select(col("doc_id"), col("text")))
      .join(storedShingleDf(s, path), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("sdf").isNotNull, 1L).otherwise(0L)).as("n_known"))
      .withColumn("novelty_ppm",
        expr("((n_shingles - n_known) * 1000000L) div n_shingles"))
  }

  /** Fresh-stats streaming form: a `foreachBatch` body scoring each
    * micro-batch's docs against the CURRENTLY COMMITTED index (the
    * bm25AlertBatchScorer discipline — follows appends live).
    */
  def noveltyBatchScorer(path: String)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => sink(deltaNoveltyFromIndex(batch, path), batchId)

  /** Day-2 near-dup ingest against the STORED index: only the delta is
    * shingled and signed; candidate buckets come from joining the
    * delta's band rows to the stored bucket counts. Cap semantics are
    * IDENTICAL to [[deltaNearDupOn]] — the mega-bucket guard applies to
    * the COMBINED (base + delta) bucket size, with n_base read from the
    * index instead of recomputed — so the parity spec can demand exact
    * verdict equality, not just agreement-in-distribution.
    */
  def deltaNearDupFromIndex(
      delta: DataFrame, path: String, cap: Int = maxBucket): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    val deltaRows =
      minhashBandRows(shinglesOfDf(delta.select($"doc_id", $"text")))
    val nDelta = deltaRows.groupBy($"band", $"bkey")
      .agg(count(lit(1)).as("n_delta"))
    val counts = StoredIndex.Lsh.read(s, path, "bucket_counts")
    val hitBuckets = nDelta
      .join(counts, Seq("band", "bkey"), "left")
      .withColumn("n", $"n_delta" + coalesce($"n_base", lit(0L)))
      .filter($"n" <= cap && $"n_base".isNotNull)
      .select($"band", $"bkey")
    val cands = deltaRows
      .join(hitBuckets, Seq("band", "bkey"))
      .select($"doc_id").distinct()
    delta.select($"doc_id")
      .join(cands.withColumn("hit", lit(true)), Seq("doc_id"), "left")
      .select(
        $"doc_id",
        when($"hit", lit("neardup_of_base")).otherwise(lit("kept")).as("verdict"))
  }

  private[queries] def deltaNearDupOn(tagged: DataFrame, cap: Int = maxBucket): DataFrame = {
    val s = tagged.sparkSession
    import s.implicits._
    // collect_set skips nulls, so the when() projects delta ids only;
    // the gather runs strictly after the n <= cap filter, so no bucket
    // ever materializes more than `cap` ids. Window + groupBy share the
    // (band, bkey) partitioning — still one exchange for both.
    val cands = pricedBandRows(shinglesOfDf(tagged.select($"doc_id", $"text")))
      .filter($"n" <= cap)
      .join(tagged.select($"doc_id", $"batch"), "doc_id")
      .groupBy($"band", $"bkey")
      .agg(
        max(when($"batch" === "base", lit(1)).otherwise(lit(0))).as("has_base"),
        collect_set(when($"batch" === "delta", $"doc_id")).as("delta_ids"))
      .filter($"has_base" === 1)
      .select(explode($"delta_ids").as("doc_id"))
      .distinct()
    tagged
      .filter($"batch" === "delta")
      .select($"doc_id")
      .join(cands.withColumn("hit", lit(true)), Seq("doc_id"), "left")
      .select(
        $"doc_id",
        when($"hit", lit("neardup_of_base")).otherwise(lit("kept")).as("verdict"))
  }

  val deltaNearDup = Q(
    "t_delta_neardup",
    (s, d) =>
      deltaNearDupOn(fannedDocs(s, d).withColumn("batch", batchOf)),
    Some {
      val kCols = (0 until bandSize).map(j => s"k$j").mkString(", ")
      s"""
      WITH doc0 AS (
        SELECT doc_id, text,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM documents),
      sh AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM doc0),
      $oracleMinhashSigBands,
      priced AS (
        SELECT bands.*, COUNT(*) OVER (PARTITION BY band, $kCols) AS n
        FROM bands),
      ok AS (
        SELECT priced.*, doc0.batch FROM priced JOIN doc0 USING (doc_id)
        WHERE n <= $maxBucket),
      basebuckets AS (
        SELECT DISTINCT band, $kCols FROM ok WHERE batch = 'base'),
      cand AS (
        SELECT DISTINCT ok.doc_id FROM ok
        JOIN basebuckets USING (band, $kCols)
        WHERE ok.batch = 'delta')
      SELECT d.doc_id,
             CASE WHEN c.doc_id IS NOT NULL THEN 'neardup_of_base'
                  ELSE 'kept' END AS verdict
      FROM doc0 d LEFT JOIN cand c USING (doc_id)
      WHERE d.batch = 'delta'
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Day-3 ingest — the APPEND path hash-gated end to end: slice the
  // corpus into base / day-2 delta / day-3 delta (same hash family as
  // batchOf; day-3 == batchOf's delta, so this row extends, not
  // re-keys, the established split). The query builds the stored index
  // from base, screens day-2 against it, folds ONLY day-2's keepers in
  // via appendLshIndex, then screens day-3 against the GROWN index and
  // emits day-3's verdicts. A day-3 copy of an admitted day-2 doc must
  // flag, a copy of a REJECTED day-2 doc must flag only if it also
  // collides with base-or-kept buckets — semantics the oracle recomputes
  // from scratch (bucket counts over base + kept-day-2), so a wrong
  // merge in the append shows up as a hash mismatch, not just a spec
  // failure. The temp index dir is per-invocation, same convention as
  // the other stored-artifact rows.
  // ---------------------------------------------------------------------
  private val sliceOf: Column = {
    val b = h60(concat(col("doc_id").cast("string"), lit(":batch"))) % 10
    when(b >= 8, lit("d2")).when(b >= 6, lit("d1")).otherwise(lit("base"))
  }

  val deltaNearDupDay3 = Q(
    "t_delta_neardup_day3",
    (s, d) => {
      import s.implicits._
      val sliced = fannedDocs(s, d).withColumn("slice", sliceOf)
      val base = sliced.filter($"slice" === "base").select($"doc_id", $"text")
      val d1 = sliced.filter($"slice" === "d1").select($"doc_id", $"text")
      val d2 = sliced.filter($"slice" === "d2").select($"doc_id", $"text")
      val dir = graft.sources.Scratch.dir("graft-lsh-day3")
      writeLshIndex(base, dir)
      val kept1 = d1.join(
        deltaNearDupFromIndex(d1, dir).filter($"verdict" === "kept").select($"doc_id"),
        "doc_id")
      appendLshIndex(kept1, dir)
      deltaNearDupFromIndex(d2, dir)
    },
    Some {
      val kCols = (0 until bandSize).map(j => s"k$j").mkString(", ")
      s"""
      WITH doc0 AS (
        SELECT doc_id, text,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8 THEN 'd2'
                    WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 6 THEN 'd1'
                    ELSE 'base' END AS slice
        FROM documents),
      sh AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM doc0),
      $oracleMinhashSigBands,
      bd AS (SELECT bands.*, doc0.slice FROM bands JOIN doc0 USING (doc_id)),
      bc AS (
        SELECT band, $kCols,
               SUM(CASE WHEN slice = 'base' THEN 1 ELSE 0 END) AS n_base0,
               SUM(CASE WHEN slice = 'd1' THEN 1 ELSE 0 END) AS n_d1,
               SUM(CASE WHEN slice = 'd2' THEN 1 ELSE 0 END) AS n_d2
        FROM bd GROUP BY band, $kCols),
      hit1 AS (
        SELECT DISTINCT bd.doc_id FROM bd JOIN bc USING (band, $kCols)
        WHERE bd.slice = 'd1' AND bc.n_base0 >= 1
          AND bc.n_d1 + bc.n_base0 <= $maxBucket),
      idx2 AS (
        SELECT band, $kCols, COUNT(*) AS n_idx
        FROM bd
        WHERE slice = 'base'
           OR (slice = 'd1' AND doc_id NOT IN (SELECT doc_id FROM hit1))
        GROUP BY band, $kCols),
      hit2 AS (
        SELECT DISTINCT bd.doc_id FROM bd
        JOIN idx2 USING (band, $kCols)
        JOIN bc USING (band, $kCols)
        WHERE bd.slice = 'd2' AND bc.n_d2 + idx2.n_idx <= $maxBucket)
      SELECT d.doc_id,
             CASE WHEN h.doc_id IS NOT NULL THEN 'neardup_of_base'
                  ELSE 'kept' END AS verdict
      FROM doc0 d LEFT JOIN hit2 h USING (doc_id)
      WHERE d.slice = 'd2'
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Token-distribution drift — the TEXT sibling of v_index_drift: the
  // base and delta slices' unigram share distributions compared token
  // by token, top-10 movers by absolute share shift (ppm). The ingest
  // radar that catches a content-mix change (new language, new
  // boilerplate family, a scraper gone wrong) before it reaches
  // training. One token-keyed count shuffle + the sanctioned one-row
  // totals cross; top-10 is TakeOrderedAndProject, no global window.
  // ---------------------------------------------------------------------
  val tokenDrift = Q(
    "t_token_drift",
    (s, d) => {
      import s.implicits._
      val counts = fannedDocs(s, d).withColumn("batch", batchOf)
        .select($"batch", explode(toks).as("t"))
        .groupBy($"t")
        .agg(
          sum(when($"batch" === "base", 1L).otherwise(0L)).as("nb"),
          sum(when($"batch" === "delta", 1L).otherwise(0L)).as("nd"))
      val tot = counts.agg(sum($"nb").as("tb"), sum($"nd").as("td"))
      counts
        .crossJoin(broadcast(tot)) // one-row totals: the sanctioned cross
        .select($"t", $"nb", $"nd",
          expr("(1000000 * nb) div tb").as("sb_ppm"),
          expr("(1000000 * nd) div td").as("sd_ppm"))
        .withColumn("drift_ppm", abs($"sb_ppm" - $"sd_ppm"))
        .orderBy($"drift_ppm".desc, $"t")
        .limit(10)
    },
    Some(s"""
      WITH doc0 AS (
        SELECT text,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM documents),
      tk AS (SELECT batch, unnest($oracleToks) AS t FROM doc0),
      counts AS (
        SELECT t,
               CAST(SUM(CASE WHEN batch = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
               CAST(SUM(CASE WHEN batch = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS nd
        FROM tk GROUP BY 1),
      tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS tb, CAST(SUM(nd) AS BIGINT) AS td FROM counts)
      SELECT t, nb, nd,
             (1000000 * nb) // tb AS sb_ppm,
             (1000000 * nd) // td AS sd_ppm,
             ABS((1000000 * nb) // tb - (1000000 * nd) // td) AS drift_ppm
      FROM counts CROSS JOIN tot
      ORDER BY drift_ppm DESC, t
      LIMIT 10
    """.stripMargin.trim),
    bench = true, // the ingest drift radar (token-keyed count + top-10)
  )

  // ---------------------------------------------------------------------
  // Unigram-LM document scoring — the integer-exact stand-in for the
  // CCNet/KenLM perplexity filter: score each document by its mean token
  // unigram probability under the corpus's own unigram model,
  //   score_ppm = floor(1e6 * (1/n) * Σ_t cnt(t)/N)
  //             = (1e6 * Σ_t cnt(t)) div (n_toks * N)
  // — all-integer, so it hash-matches across engines (a float log/ln
  // would differ in the last ulp between the JVM and DuckDB libm; the
  // mean-probability form ranks documents the same way for filtering:
  // low score = rare/gibberish tokens, high = common-word text). At a
  // true 100 TB corpus 1e6*Σcnt and n*N near int64 range; production
  // would widen the two products to DECIMAL(38,0) — same plan.
  //
  // 100 TB shape: one token-keyed count shuffle (the unigram model), a
  // token-keyed equi-join back to the token stream — vocabulary is
  // billions of distinct tokens, so NO broadcast hint (AQE decides) —
  // then a doc-keyed agg. The corpus total N is a one-row scalar agg
  // (one row per partition pre-agg) grafted on via an explicit
  // one-row broadcast cross join — the sanctioned tiny-side BNLJ class
  // (broadcasting one row, never data; see CatalogPlanGuardSpec).
  // ---------------------------------------------------------------------

  /** The operator core over any (doc_id, text) frame — exposed so
    * UnigramLmSpec can check hand-computed scores on a planted corpus.
    */
  private[queries] def unigramLmOn(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    // deliberately NOT checkpointed (r21 measured negative, 0.86x,
    // SCALING.md ("Round-21 (optimization round 1)")): tokRows' and
    // cnts' consumers run as concurrent stages of one job, and plain
    // tokenize is cheap — the materialization barrier cost more than
    // the recompute it saved
    val tokRows = docsDf.select($"doc_id", explode(toks).as("token"))
    val cnts = tokRows.groupBy($"token").agg(count(lit(1)).as("cnt"))
    val total = cnts.agg(sum($"cnt").cast("long").as("n_total"))
    tokRows
      .join(cnts, "token")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_toks"), sum($"cnt").cast("long").as("sum_cnt"))
      // ONE broadcast row (the corpus total) against the per-doc stream —
      // the sanctioned tiny-side BNLJ class (CatalogPlanGuardSpec)
      .crossJoin(broadcast(total))
      .select(
        $"doc_id", $"n_toks", $"sum_cnt",
        expr("(1000000 * sum_cnt) div (n_toks * n_total)").as("score_ppm"))
  }

  val unigramLm = Q(
    "t_unigram_lm",
    (s, d) => unigramLmOn(fannedDocs(s, d)),
    Some(s"""
      WITH tok AS (SELECT doc_id, unnest($oracleToks) AS token FROM documents),
      cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnts),
      perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(cnt) AS BIGINT) AS sum_cnt
        FROM tok JOIN cnts USING (token) GROUP BY 1)
      SELECT doc_id, n_toks, sum_cnt,
             CAST((1000000 * sum_cnt) // (n_toks * n_total) AS BIGINT) AS score_ppm
      FROM perdoc, n
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // CCNet-style LM buckets — the head/middle/tail split CCNet runs per
  // language on LM scores before choosing which tercile to train on.
  // Scores come from the verified unigram-LM core; the terciles are
  // exact BY RANK (ntile(3) per language, deterministic (score, doc_id)
  // order), which sidesteps the global-score-quantile problem: score
  // values are corpus-cardinality so a value-histogram window would see
  // corpus-sized partitions, but the per-language rank window is the
  // partitioned form the engine allows. Production CCNet samples for
  // thresholds; rank-terciles are the exact equivalent on the full set.
  // ---------------------------------------------------------------------
  val ccnetBuckets = Q(
    "t_ccnet_buckets",
    (s, d) => {
      import s.implicits._
      val scored = unigramLmOn(fannedDocs(s, d))
        .join(docs(s, d).select($"doc_id", $"lang"), "doc_id")
      val w = Window.partitionBy($"lang").orderBy($"score_ppm".desc, $"doc_id")
      scored
        .withColumn("tercile", ntile(3).over(w).cast("long"))
        .select($"doc_id", $"lang", $"score_ppm",
          when($"tercile" === 1, "head")
            .when($"tercile" === 2, "middle")
            .otherwise("tail").as("bucket"))
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, unnest($oracleToks) AS token FROM documents),
      cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cnts),
      perdoc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(cnt) AS BIGINT) AS sum_cnt
        FROM tok JOIN cnts USING (token) GROUP BY 1),
      scored AS (
        SELECT d.doc_id, d.lang,
               CAST((1000000 * sum_cnt) // (n_toks * n_total) AS BIGINT) AS score_ppm
        FROM perdoc JOIN documents d USING (doc_id), n),
      ranked AS (
        SELECT doc_id, lang, score_ppm,
               NTILE(3) OVER (PARTITION BY lang
                 ORDER BY score_ppm DESC, doc_id) AS tercile
        FROM scored)
      SELECT doc_id, lang, score_ppm,
             CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Boilerplate fraction — the Dolma/RefinedWeb-style duplicated-text
  // signal at SIGNAL grain (no rewrite): for each document, the share of
  // its distinct word-3-gram shingles that also occur in at least one
  // OTHER document. Near-100% = mirror/template page; mid-range = shared
  // nav/license blocks (what t_dedup_para would strip); low = original
  // text. Complements t_repetition (WITHIN-doc loops) with the
  // ACROSS-doc counterpart.
  //
  // 100 TB shape: shingle rows (linear) → one shingle-keyed document-
  // frequency shuffle → shingle-keyed equi-join back (no broadcast —
  // shingle space is corpus-scale; AQE decides) → doc-keyed agg. Same
  // plan class as t_contamination; per-doc shingles are already distinct
  // (shinglesOfTk), so COUNT(*) per shingle IS document frequency.
  // ---------------------------------------------------------------------

  /** The operator core over any (doc_id, sh) shingle-row frame — exposed
    * so BoilerplateSpec can drive planted template corpora through the
    * real plan.
    */
  private[queries] def boilerplateOn(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    // deliberately NOT checkpointed (r21 paired A/B: 1.02x — below the
    // 1.3x adoption gate; the df-agg and join-back branches overlap as
    // concurrent stages, so the double shingle explode is near-free)
    val docFreq = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    sh.join(docFreq, "sh")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_shingles"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).cast("long").as("n_shared"),
      )
      .withColumn("boiler_pct", expr("(100 * n_shared) div n_shingles"))
  }

  val boilerplate = Q(
    "t_boilerplate",
    (s, d) => boilerplateOn(docShingles(s, d)),
    Some(s"""
      WITH sh AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      sdf AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN sdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             CAST((100 * SUM(CASE WHEN sdf.df >= 2 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
               AS boiler_pct
      FROM sh JOIN sdf USING (sh)
      GROUP BY doc_id
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Collocation mining — corpus-level phrase discovery by pointwise
  // lift, the integer PMI surrogate: for each bigram seen at least
  // minPairCount times,
  //   lift_ppm = (1e6 * cnt_ab * N) div (cnt_a * cnt_b)
  //            = 1e6 * P(a,b) / (P(a)·P(b))
  // whose log is exactly PMI — log is monotone, so ranking by lift IS
  // ranking by PMI, without the cross-engine float drift a log would
  // bring (same determinism rule as t_unigram_lm). Top-20 by
  // (lift desc, bigram).
  //
  // Overflow caveat (stronger than t_unigram_lm's, since N is multiplied
  // directly): 1e6·cnt_ab·N exceeds int64 once N reaches ~1e12 tokens
  // even at minimum support — and Spark (non-ANSI) would WRAP while
  // DuckDB errors. A true 100 TB corpus must widen the two products to
  // DECIMAL(38,0) (same plan, exact integer math in both engines); at
  // every driver-tested SF the products stay far inside int64.
  //
  // 100 TB shape: one bigram-count shuffle + one unigram-count shuffle;
  // the support filter (cnt_ab ≥ minPairCount) runs BEFORE the two
  // token-keyed joins back to the unigram model, collapsing the join
  // input from the bigram space to the frequent-phrase set; no broadcast
  // hint on the unigram side (vocabulary is corpus-scale — AQE decides);
  // the global rank is orderBy+limit = TakeOrderedAndProject (per-
  // partition partial top-k, only k rows ever reach one task), with the
  // rnk window above the limit like t_token_topk. The corpus total rides
  // the same sanctioned one-row broadcast as t_unigram_lm.
  // ---------------------------------------------------------------------

  private val minPairCount = 5

  /** The operator core over any (doc_id, text) frame — exposed so
    * CorpusSignalsSpec can check hand-computed lifts on a planted corpus.
    */
  private[queries] def collocationsOn(docsDf: DataFrame, minCount: Long = minPairCount): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    // deliberately NOT checkpointed (r21: same class as unigramLmOn's
    // measured 0.86x negative — light tokenize, concurrent branches)
    val tk = docsDf.withColumn("tk", toks)
    val uni = tk.select(explode($"tk").as("w")).groupBy($"w").agg(count(lit(1)).as("cnt_w"))
    val total = uni.agg(sum($"cnt_w").cast("long").as("n_total"))
    val bi = tk
      .filter(size($"tk") >= 2)
      .select(explode(bigramsOfTk).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("cnt_ab"))
      .filter($"cnt_ab" >= minCount)
    bi
      .withColumn("wa", expr("split(bigram, ' ')[0]"))
      .withColumn("wb", expr("split(bigram, ' ')[1]"))
      .join(uni.select($"w".as("wa"), $"cnt_w".as("cnt_a")), "wa")
      .join(uni.select($"w".as("wb"), $"cnt_w".as("cnt_b")), "wb")
      .crossJoin(broadcast(total))
      .select(
        $"bigram", $"cnt_ab", $"cnt_a", $"cnt_b",
        expr("(1000000 * cnt_ab * n_total) div (cnt_a * cnt_b)").as("lift_ppm"))
      .orderBy($"lift_ppm".desc, $"bigram")
      .limit(20)
      .withColumn("rnk", row_number().over(Window.orderBy($"lift_ppm".desc, $"bigram")).cast("long"))
  }

  val collocations = Q(
    "t_collocations",
    (s, d) => collocationsOn(fannedDocs(s, d)),
    Some(s"""
      WITH tok AS (SELECT unnest($oracleToks) AS w FROM documents),
      uni AS (SELECT w, COUNT(*) AS cnt_w FROM tok GROUP BY 1),
      n AS (SELECT CAST(SUM(cnt_w) AS BIGINT) AS n_total FROM uni),
      bi0 AS (
        SELECT unnest($oracleBigramsOfTk) AS bigram
        FROM (SELECT $oracleToks AS tk FROM documents)),
      bi AS (SELECT bigram, COUNT(*) AS cnt_ab FROM bi0
             GROUP BY 1 HAVING COUNT(*) >= $minPairCount),
      scored AS (
        SELECT bigram, CAST(cnt_ab AS BIGINT) AS cnt_ab,
               ua.cnt_w AS cnt_a, ub.cnt_w AS cnt_b,
               CAST((1000000 * cnt_ab * n_total) // (ua.cnt_w * ub.cnt_w) AS BIGINT)
                 AS lift_ppm
        FROM bi
        JOIN uni ua ON ua.w = string_split(bigram, ' ')[1]
        JOIN uni ub ON ub.w = string_split(bigram, ' ')[2]
        CROSS JOIN n)
      SELECT bigram, cnt_ab, cnt_a, cnt_b, lift_ppm,
             ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, bigram) AS rnk
      FROM scored QUALIFY rnk <= 20
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Token-window chunking — documents → fixed-size training sequences,
  // the projection between a cleaned corpus and a tokenizer: overlapping
  // windows of `chunkSize` tokens advancing by `chunkStride` (the
  // trailing window keeps whatever remains, so every token lands in at
  // least one chunk and boundary context is preserved by the overlap).
  // Chunk identity is (doc_id, chunk_id) with chunk_id derived from the
  // window start — stable under re-runs and corpus growth, never a
  // row-position.
  //
  // 100 TB shape: a pure per-row projection + explode (the chunk fan-out
  // any chunker pays — output ~ corpus x size/stride), zero shuffles;
  // chains into t_seq_pack (chunk rows -> fixed-length packed sequences)
  // or t_dedup_para-style chunk-grain dedup without re-tokenizing.
  // ---------------------------------------------------------------------

  private val chunkSize = 32
  private val chunkStride = 24

  /** The operator core over any (doc_id, text) frame — exposed for the
    * planted-boundary spec and the streaming twin (chunking is stateless,
    * so the exact same projection serves `readStream` unchanged).
    */
  private[graft] def chunksOf(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    docsDf
      .withColumn("tk", toks)
      .filter(size($"tk") > 0)
      .select($"doc_id", $"tk",
        explode(expr(s"sequence(1, size(tk), $chunkStride)")).as("start"))
      .select(
        $"doc_id",
        expr(s"CAST((start - 1) div $chunkStride AS BIGINT)").as("chunk_id"),
        expr(s"slice(tk, start, $chunkSize)").as("ck"))
      .select(
        $"doc_id", $"chunk_id",
        size($"ck").cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", $"ck")).as("chunk_hash"))
  }

  val chunk = Q(
    "t_chunk",
    (s, d) => chunksOf(docs(s, d).select(col("doc_id"), col("text"))),
    Some(s"""
      WITH t AS (SELECT doc_id, $oracleToks AS tk FROM documents),
      nz AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
      st AS (SELECT doc_id, tk,
                    unnest(generate_series(1, len(tk), $chunkStride)) AS start
             FROM nz)
      SELECT doc_id,
             CAST((start - 1) // $chunkStride AS BIGINT) AS chunk_id,
             CAST(len(tk[start:start+${chunkSize - 1}]) AS BIGINT) AS n_chunk_tokens,
             md5(array_to_string(tk[start:start+${chunkSize - 1}], ' ')) AS chunk_hash
      FROM st
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // DSIR-style importance weighting — rank every raw document by how
  // much its hashed-unigram profile looks like a TARGET domain (Xie et
  // al. 2023, "Data Selection for Language Models via Importance
  // Resampling"): tokens hash into a fixed bucket space, the target and
  // raw corpora each induce a smoothed bucket distribution, and a
  // document's weight is its mean per-token likelihood ratio
  //   r(b) = p_target(b) / p_raw(b)    (add-one smoothing both sides).
  // DSIR's log-importance weight Σ log r is replaced by the mean ratio
  // Σ r / n — the same substitution t_collocations makes for PMI: log is
  // transcendental (last-ulp drift between JVM and DuckDB libm breaks
  // hash-gating) while the ratio form uses only IEEE-exact +,*,/ on
  // exactly-represented integers, and ranks "target-like" documents the
  // same direction. The fixed bucket space (not per-token vocab) is the
  // paper's own trick and the scale story: the model is B rows, period.
  //
  // 100 TB shape: one token-bucket agg (B=256 rows out of a corpus-sized
  // stream, partial-agg'd map-side), a one-row totals scalar crossed on
  // via the sanctioned tiny-side BNLJ (CatalogPlanGuardSpec), the B-row
  // score table broadcast onto the token stream (map-side join, no
  // shuffle of the corpus), and one doc-keyed agg. The 1e6-scaled ratio
  // products stay far inside int64 here; production widens the two
  // divisions to DECIMAL(38,9) — same plan (t_unigram_lm's note).
  // ---------------------------------------------------------------------

  private val dsirBuckets = 256
  private[queries] val dsirTargetSources: Seq[String] = Seq("src1", "src2")

  /** (token rows, per-bucket score table, totals) for a corpus + target
    * predicate — the shared trunk of the batch query and the frozen-model
    * export ([[dsirModelOf]]).
    */
  private def dsirParts(
      docsDf: DataFrame,
      isTarget: Column): (DataFrame, DataFrame, DataFrame) = {
    val s = docsDf.sparkSession
    import s.implicits._
    val tokRows = docsDf
      .select($"doc_id", isTarget.as("is_target"), explode(toks).as("token"))
      .withColumn("bucket", h60($"token") % dsirBuckets)
    val perBucket = tokRows
      .groupBy($"bucket")
      .agg(
        count(lit(1)).cast("long").as("c_r"),
        sum(when($"is_target", 1L).otherwise(0L)).cast("long").as("c_t"))
    val totals = perBucket.agg(
      sum($"c_r").cast("long").as("n_r"),
      sum($"c_t").cast("long").as("n_t"))
    val scores = perBucket
      .crossJoin(broadcast(totals))
      .select(
        $"bucket",
        expr(s"""CAST(FLOOR(1000000 * ((c_t + 1.0) / (n_t + $dsirBuckets))
                 / ((c_r + 1.0) / (n_r + $dsirBuckets))) AS BIGINT)""").as("r_ppm"))
    (tokRows, scores, totals)
  }

  /** The operator core over any (doc_id, text) frame plus a target-set
    * predicate — exposed so the spec can drive a planted target/raw
    * corpus with known bucket collisions through the real plan.
    */
  private[graft] def dsirWeightsOn(docsDf: DataFrame, isTarget: Column): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val (tokRows, scores, _) = dsirParts(docsDf, isTarget)
    tokRows
      .join(broadcast(scores), "bucket")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_toks"),
        sum($"r_ppm").cast("long").as("sum_ppm"))
      .select($"doc_id", $"n_toks", $"sum_ppm",
        expr("sum_ppm div n_toks").as("dsir_ppm"))
  }

  /** Export the FROZEN importance model a deployment scores new data
    * with: the per-bucket ratio table plus the unseen-bucket default
    * (the smoothed ratio at c_t = c_r = 0). The hand-off is O(B) rows —
    * the model is 256 longs by construction, never vocabulary-sized —
    * so collecting it to the driver is the sanctioned tiny-literal
    * class (same as ivfAssignStream's centroid hand-off).
    */
  private[graft] def dsirModelOf(
      docsDf: DataFrame,
      isTarget: Column): (Seq[(Long, Long)], Long) = {
    val (_, scores, totals) = dsirParts(docsDf, isTarget)
    val model = scores.collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("r_ppm"))).toSeq
    val t = totals.collect().head
    val (nR, nT) = (t.getAs[Long]("n_r"), t.getAs[Long]("n_t"))
    val default = math.floor(1000000 * (1.0 / (nT + dsirBuckets))
      / (1.0 / (nR + dsirBuckets))).toLong
    (model, default)
  }

  /** Score any (doc_id, text) frame against a frozen [[dsirModelOf]]
    * model as a PURE per-row projection (map-literal lookup + fold) —
    * no shuffle, no state, so the identical column works on a stream
    * ([[graft.streaming.Streams.dsirScoreStream]]) and in batch. Output
    * schema matches [[dsirWeightsOn]].
    */
  private[graft] def dsirScoreWith(
      docsDf: DataFrame,
      model: Seq[(Long, Long)],
      defaultPpm: Long): DataFrame = {
    val mdl = map(model.sortBy(_._1).flatMap { case (b, r) =>
      Seq(lit(b), lit(r))
    }: _*)
    docsDf
      .withColumn("tk", toks)
      .filter(size(col("tk")) > 0)
      .withColumn("mdl", mdl)
      .withColumn("n_toks", size(col("tk")).cast("long"))
      .withColumn("sum_ppm", expr(
        s"""aggregate(tk, CAST(0 AS BIGINT), (acc, t) ->
           |  acc + coalesce(
           |    mdl[CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % $dsirBuckets],
           |    CAST($defaultPpm AS BIGINT)))""".stripMargin))
      .select(col("doc_id"), col("n_toks"), col("sum_ppm"),
        expr("sum_ppm div n_toks").as("dsir_ppm"))
  }

  val dsirWeight = Q(
    "t_dsir_weight",
    (s, d) => {
      import s.implicits._
      // one fanned scan carrying source along — never a corpus self-join
      // to re-attach metadata (same economics as fannedDocs, one pass)
      dsirWeightsOn(
        fanOutCpu(docs(s, d).select($"doc_id", $"text", $"source")),
        col("source").isin(dsirTargetSources: _*))
    },
    Some {
      val targets = dsirTargetSources.map(x => s"'$x'").mkString(", ")
      s"""
      WITH tok AS (
        SELECT doc_id, source IN ($targets) AS is_target,
               unnest($oracleToks) AS token
        FROM documents),
      tb AS (
        SELECT doc_id, is_target,
               ('0x' || substr(md5(token), 1, 15))::UBIGINT::BIGINT % $dsirBuckets AS bucket
        FROM tok),
      pb AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_r,
               CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        FROM tb GROUP BY 1),
      tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
                     CAST(SUM(c_t) AS BIGINT) AS n_t FROM pb),
      sc AS (
        SELECT bucket,
               CAST(FLOOR(1000000 * ((c_t + 1.0) / (n_t + $dsirBuckets))
                 / ((c_r + 1.0) / (n_r + $dsirBuckets))) AS BIGINT) AS r_ppm
        FROM pb, tot)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(r_ppm) AS BIGINT) AS sum_ppm,
             CAST(SUM(r_ppm) // COUNT(*) AS BIGINT) AS dsir_ppm
      FROM tb JOIN sc USING (bucket)
      GROUP BY doc_id
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Bigram-LM document scoring — the fidelity step above t_unigram_lm:
  // score each document by its mean bigram conditional probability under
  // the corpus's own MLE bigram model,
  //   p(b|a) = cnt(a b) / ctx(a),  ctx(a) = Σ_b cnt(a b)
  // (so p sums to 1 per context), integer-scaled per bigram BEFORE the
  // per-doc sum (floor(1e6·p) per bigram, then an exact integer mean) —
  // the same cross-engine determinism rule as t_unigram_lm, and the same
  // production widening note (1e6·cnt near int64 at true corpus scale →
  // DECIMAL(38,0), same plan). What the extra order buys: a bag of
  // common words in scrambled order scores HIGH under a unigram model
  // and LOW here — the word-salad/SEO-spam discriminator a real quality
  // pipeline layers on top of unigram perplexity (the spec plants
  // exactly that corpus). Documents under 2 tokens have no bigrams and
  // emit nothing, mirrored in the oracle.
  //
  // 100 TB shape: one bigram-keyed count shuffle (the model), a
  // |model|-input context agg (head-keyed, input is the MODEL not the
  // corpus), a head-keyed model-to-context equi-join and a bigram-keyed
  // join back to the bigram stream — both vocabulary-scale, so NO
  // broadcast hints (AQE decides) — then one doc-keyed agg.
  // ---------------------------------------------------------------------

  /** The operator core over any (doc_id, text) frame — exposed for the
    * planted fluent-vs-scrambled spec.
    */
  private[graft] def bigramLmOn(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val bg = docsDf
      .withColumn("tk", toks)
      .filter(size($"tk") >= 2)
      .select($"doc_id", explode(bigramsOfTk).as("bg"))
    val bgCnt = bg.groupBy($"bg").agg(count(lit(1)).cast("long").as("cnt_ab"))
    val ctx = bgCnt
      .groupBy(substring_index($"bg", " ", 1).as("a"))
      .agg(sum($"cnt_ab").cast("long").as("ctx_a"))
    val scored = bgCnt
      .join(ctx, substring_index($"bg", " ", 1) === $"a")
      .select($"bg", expr("(1000000 * cnt_ab) div ctx_a").as("p_ppm"))
    bg.join(scored, "bg")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        sum($"p_ppm").cast("long").as("sum_ppm"))
      .select($"doc_id", $"n_bigrams", $"sum_ppm",
        expr("sum_ppm div n_bigrams").as("bigram_ppm"))
  }

  val bigramLm = Q(
    "t_bigram_lm",
    (s, d) => bigramLmOn(fannedDocs(s, d)),
    Some(s"""
      WITH t AS (SELECT doc_id, $oracleToks AS tk FROM documents),
      d2 AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 2),
      bgr AS (SELECT doc_id, unnest($oracleBigramsOfTk) AS bg FROM d2),
      bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt_ab FROM bgr GROUP BY 1),
      cc AS (SELECT split_part(bg, ' ', 1) AS a, CAST(SUM(cnt_ab) AS BIGINT) AS ctx_a
             FROM bc GROUP BY 1),
      sc AS (SELECT bg, CAST((1000000 * cnt_ab) // ctx_a AS BIGINT) AS p_ppm
             FROM bc JOIN cc ON split_part(bc.bg, ' ', 1) = cc.a)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(p_ppm) AS BIGINT) AS sum_ppm,
             CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS bigram_ppm
      FROM bgr JOIN sc USING (bg)
      GROUP BY doc_id
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // BPE tokenizer induction — the real merge-learning loop (Sennrich et
  // al. 2016) behind t_token_bpe's regex pre-tokenizer: learn `nMerges`
  // byte-pair merges from the corpus, then encode text with the trained
  // table. The trainer is the engine's third driver-loop iterative op
  // (CC, kmeansTrain, this), and the scale shape is what makes
  // distributed BPE viable:
  //
  //  - ALL rounds run over the VOCABULARY table (one row per distinct
  //    word with its corpus frequency), never the corpus — the corpus is
  //    touched exactly once, by the word-count shuffle. A web-scale
  //    corpus has ~1e8 distinct words vs ~1e13 running words; this is
  //    the 1e5x reduction every production BPE trainer (HF tokenizers,
  //    SentencePiece) exploits, expressed as one groupBy.
  //  - per round: one pair-explode + keyed agg over the vocab, a top-1
  //    TakeOrderedAndProject, and a per-row fold rewriting the chosen
  //    pair — O(1) rows to the driver per round (the argmax pair).
  //  - lineage is truncated per round (localCheckpoint, same as the CC
  //    loop) so `nMerges` rounds never stack into one giant plan.
  //
  // Pair weights count adjacent POSITIONS (the reference algorithm's
  // zip-with-tail), ties break (weight desc, p1, p2) — deterministic, so
  // re-runs train the identical merge table. BpeTrainSpec pins the loop
  // against an independent in-test reference implementation on the
  // classic low/lower/newest/widest corpus.
  // ---------------------------------------------------------------------

  /** Learn `nMerges` BPE merges from a (doc_id, text) frame. Returns the
    * ordered merge table — merge rank = position in the list.
    */
  def bpeTrain(docsDf: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val s = docsDf.sparkSession
    import s.implicits._
    var vocab = docsDf
      .select(explode(toks).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select($"word", $"cnt", $"syms")
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (!exhausted && merges.length < nMerges) {
      val top = vocab
        .filter(size($"syms") >= 2)
        .select($"cnt", explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS p1, element_at(syms, i + 1) AS p2))"""
            .stripMargin)).as("pr"))
        .groupBy($"pr.p1".as("p1"), $"pr.p2".as("p2"))
        .agg(sum($"cnt").as("w"))
        .orderBy($"w".desc, $"p1", $"p2")
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true // every word fully merged
      else {
        val (a, b) = (top.head.getAs[String]("p1"), top.head.getAs[String]("p2"))
        merges += ((a, b))
        // the pair rides in as a one-row broadcast (no literal escaping
        // hazards); the fold is the standard greedy left-to-right merge
        val pair = Seq((a, b, a + b)).toDF("mp_a", "mp_b", "mp_m")
        val next = vocab
          .crossJoin(broadcast(pair))
          .withColumn("syms", expr(
            """aggregate(syms, CAST(array() AS array<string>),
              |  (acc, x) -> CASE
              |    WHEN size(acc) > 0 AND element_at(acc, -1) = mp_a AND x = mp_b
              |    THEN concat(slice(acc, 1, size(acc) - 1), array(mp_m))
              |    ELSE concat(acc, array(x)) END)""".stripMargin))
          .select($"word", $"cnt", $"syms")
          .localCheckpoint(true)
        vocab.unpersist()
        vocab = next
      }
    }
    vocab.unpersist()
    merges.toSeq
  }

  /** The trainer's round-1 argmax as an oracled catalog query: the
    * highest-weight adjacent character pair over the word-frequency
    * table, tie-broken (weight desc, p1, p2) — exactly the first row
    * [[bpeTrain]] would merge, so the loop's selection rule is pinned
    * cross-engine the way v_kmeans_step pins one Lloyd iteration.
    */
  val bpeTopPair = Q(
    "t_bpe_top_pair",
    (s, d) => {
      import s.implicits._
      docs(s, d)
        .select(explode(toks).as("word"))
        .groupBy($"word")
        .agg(count(lit(1)).cast("long").as("cnt"))
        .filter(length($"word") >= 2)
        .select($"cnt", explode(expr(
          """transform(sequence(1, length(word) - 1),
            |  i -> struct(substring(word, i, 1) AS p1, substring(word, i + 1, 1) AS p2))"""
            .stripMargin)).as("pr"))
        .groupBy($"pr.p1".as("p1"), $"pr.p2".as("p2"))
        .agg(sum($"cnt").cast("long").as("w"))
        .orderBy($"w".desc, $"p1", $"p2")
        .limit(1)
    },
    Some(s"""
      WITH tok AS (SELECT unnest($oracleToks) AS word FROM documents),
      wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
      pr AS (SELECT substr(word, i, 1) AS p1, substr(word, i + 1, 1) AS p2, cnt
             FROM (SELECT word, cnt, unnest(generate_series(1, len(word) - 1)) AS i
                   FROM wc WHERE len(word) >= 2)),
      agg AS (SELECT p1, p2, CAST(SUM(cnt) AS BIGINT) AS w FROM pr GROUP BY 1, 2)
      SELECT p1, p2, w FROM agg ORDER BY w DESC, p1, p2 LIMIT 1
    """.stripMargin.trim),
  )

  /** Adjacent-pair struct list of symbol column `c`, empty for words of
    * fewer than 2 symbols (Spark's sequence(1, 0) DESCENDS, so the guard
    * is a CASE, not a filter).
    */
  private def pairsOfExpr(c: String): String =
    s"""CASE WHEN size($c) >= 2 THEN transform(sequence(1, size($c) - 1),
       |    i -> struct(element_at($c, i) AS p1, element_at($c, i + 1) AS p2))
       |  ELSE CAST(array() AS array<struct<p1: string, p2: string>>) END""".stripMargin

  /** [[bpeTrain]] with INCREMENTALLY MAINTAINED pair counts — how real
    * tokenizer trainers (HF tokenizers, SentencePiece) make 50k merge
    * rounds tractable: after the one-time vocab pair count, each round
    * (1) takes the argmax from the MAINTAINED pair table, (2) rewrites
    * only words that actually CONTAIN the merged pair, and (3) applies
    * the delta (those words' old pairs negative, new pairs positive) to
    * the pair table. The per-round explode+shuffle-agg is proportional
    * to the AFFECTED words (a vanishing fraction once the head pairs are
    * merged), not the whole vocabulary — [[bpeTrain]] recounts every
    * pair of every word every round. Per-round cost measured in
    * SCALING.md ("incremental BPE"); BpeTrainSpec pins merge-table
    * equality with the recount trainer, and t_bpe_merges hash-gates 3
    * rounds (selection weights included) against an unrolled-CTE oracle.
    *
    * Returns (p1, p2, weight-at-selection) per merge, in merge order.
    */
  def bpeTrainIncremental(
      docsDf: DataFrame,
      nMerges: Int): Seq[(String, String, Long)] = {
    val s = docsDf.sparkSession
    import s.implicits._
    var state = docsDf
      .select(explode(toks).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select($"word", $"cnt", $"syms")
      .localCheckpoint(true)
    var stateCkpt = state // the checkpointed frame to release each round
    var pairCounts = state
      .select($"cnt", explode(expr(pairsOfExpr("syms"))).as("pr"))
      .groupBy($"pr.p1".as("p1"), $"pr.p2".as("p2"))
      .agg(sum($"cnt").as("w"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var exhausted = false
    while (!exhausted && merges.length < nMerges) {
      val top = pairCounts.orderBy($"w".desc, $"p1", $"p2").limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top.head.getAs[String]("p1"), top.head.getAs[String]("p2"))
        merges += ((a, b, top.head.getAs[Long]("w")))
        val pair = Seq((a, b, a + b)).toDF("mp_a", "mp_b", "mp_m")
        // one pass over the vocab: detect + rewrite; checkpointed so the
        // vocab projection and the delta both read the materialized rows
        val upd = state
          .crossJoin(broadcast(pair))
          .withColumn("hit", expr(
            """CASE WHEN size(syms) >= 2 THEN exists(
              |    transform(sequence(1, size(syms) - 1),
              |      i -> element_at(syms, i) = mp_a AND element_at(syms, i + 1) = mp_b),
              |    x -> x)
              |  ELSE false END""".stripMargin))
          .withColumn("syms2", when($"hit", expr(
            """aggregate(syms, CAST(array() AS array<string>),
              |  (acc, x) -> CASE
              |    WHEN size(acc) > 0 AND element_at(acc, -1) = mp_a AND x = mp_b
              |    THEN concat(slice(acc, 1, size(acc) - 1), array(mp_m))
              |    ELSE concat(acc, array(x)) END)""".stripMargin)).otherwise($"syms"))
          .select($"word", $"cnt", $"syms", $"syms2", $"hit")
          .localCheckpoint(true)
        // the incremental step: only hit words contribute count changes
        val delta = upd
          .filter($"hit")
          .select($"cnt", explode(expr(
            s"""concat(
               |  transform(${pairsOfExpr("syms")},
               |    p -> struct(p.p1 AS p1, p.p2 AS p2, CAST(-1 AS BIGINT) AS sgn)),
               |  transform(${pairsOfExpr("syms2")},
               |    p -> struct(p.p1 AS p1, p.p2 AS p2, CAST(1 AS BIGINT) AS sgn)))""".stripMargin)).as("dp"))
          .groupBy($"dp.p1".as("p1"), $"dp.p2".as("p2"))
          .agg(sum($"dp.sgn" * $"cnt").as("w"))
        val pcNext = pairCounts
          .unionByName(delta)
          .groupBy($"p1", $"p2")
          .agg(sum($"w").as("w"))
          .filter($"w" > 0)
          .localCheckpoint(true)
        pairCounts.unpersist()
        stateCkpt.unpersist()
        pairCounts = pcNext
        stateCkpt = upd
        state = upd.select($"word", $"cnt", $"syms2".as("syms"))
      }
    }
    pairCounts.unpersist()
    stateCkpt.unpersist()
    merges.toSeq
  }

  /** Three unrolled merge rounds of the INCREMENTAL trainer as a
    * hash-gated catalog row: (rank, p1, p2, w-at-selection). The oracle
    * unrolls each round over a chr(31)-joined symbol string — DuckDB's
    * leftmost non-overlapping `replace` of `p1||sep||p2` equals the
    * trainer's greedy left-to-right fold on the explicit-boundary
    * representation (sep = an ASCII unit separator no corpus token
    * contains). Pinning all three rows pins the MAINTAINED pair table:
    * a wrong round-2/3 delta surfaces as a wrong pair or weight.
    */
  private val bpeMergeRounds = 3
  private val oBpeSep = "chr(31)"

  /** One unrolled trainer round in oracle SQL (pair count + argmax,
    * optionally the rewrite into `s_$r`) — shared by t_bpe_merges and
    * t_bpe_encode.
    */
  private def oBpeRound(r: Int, withRewrite: Boolean): String = {
    val prev = s"s_${r - 1}"
    val rewrite =
      if (!withRewrite) ""
      else s""",
         |s_$r AS (
         |  SELECT word, cnt,
         |         replace(sym_str,
         |                 (SELECT p1 FROM t_$r) || $oBpeSep || (SELECT p2 FROM t_$r),
         |                 (SELECT p1 FROM t_$r) || (SELECT p2 FROM t_$r)) AS sym_str
         |  FROM $prev)""".stripMargin
    s"""l_$r AS (SELECT cnt, string_split(sym_str, $oBpeSep) AS ls FROM $prev),
       |p_$r AS (
       |  SELECT ls[i] AS p1, ls[i + 1] AS p2, cnt
       |  FROM (SELECT cnt, ls, unnest(generate_series(1, len(ls) - 1)) AS i
       |        FROM l_$r WHERE len(ls) >= 2)),
       |t_$r AS (
       |  SELECT CAST($r AS BIGINT) AS rank, p1, p2, CAST(SUM(cnt) AS BIGINT) AS w
       |  FROM p_$r GROUP BY p1, p2
       |  ORDER BY w DESC, p1, p2 LIMIT 1)$rewrite""".stripMargin
  }

  /** The shared head: word counts + chr(31)-joined initial symbols. */
  private def oBpeHead: String =
    s"""tok AS (SELECT unnest($oracleToks) AS word FROM documents),
       |      wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       |      s_0 AS (
       |        SELECT word, cnt,
       |               array_to_string(list_transform(generate_series(1, len(word)),
       |                                              i -> substr(word, i, 1)), $oBpeSep) AS sym_str
       |        FROM wc)""".stripMargin

  val bpeMerges = Q(
    "t_bpe_merges",
    (s, d) => {
      import s.implicits._
      bpeTrainIncremental(docs(s, d), bpeMergeRounds)
        .zipWithIndex
        .map { case ((p1, p2, w), i) => ((i + 1).toLong, p1, p2, w) }
        .toDF("rank", "p1", "p2", "w")
    },
    Some {
      val rounds = (1 to bpeMergeRounds)
        .map(r => oBpeRound(r, withRewrite = r < bpeMergeRounds))
        .mkString(",\n      ")
      s"""
      WITH $oBpeHead,
      $rounds
      SELECT * FROM t_1 UNION ALL SELECT * FROM t_2 UNION ALL SELECT * FROM t_3
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // BPE ENCODE hash-gated — converts the encode path (a mapPartitions
  // kernel, previously spec-only) into an oracle-checked surface: train
  // bpeMergeRounds merges, encode every document, emit per-doc piece
  // counts. The oracle applies the trained merges to each DISTINCT word
  // as rank-ordered string replaces on the chr(31)-joined symbols —
  // equal to the kernel's priority loop because one left-to-right
  // replace pass is its own fixpoint for a pair, and later merges can
  // never resurrect an earlier pair (merged symbols are strictly longer
  // strings) — then joins the per-word piece counts back to the doc
  // word stream. Encoding cost at scale rides the per-partition word
  // cache (Zipf reuse); the oracle's distinct-word table is the same
  // idea relationally.
  // ---------------------------------------------------------------------
  val bpeEncodeStats = Q(
    "t_bpe_encode",
    (s, d) => {
      import s.implicits._
      val merges = bpeTrainIncremental(docs(s, d), bpeMergeRounds)
        .map(m => (m._1, m._2))
      bpeEncode(docs(s, d), merges)
        .select($"doc_id",
          expr("CAST(size(bpe_tokens) AS BIGINT)").as("n_pieces"))
    },
    Some {
      val rounds = (1 to bpeMergeRounds)
        .map(r => oBpeRound(r, withRewrite = true))
        .mkString(",\n      ")
      s"""
      WITH $oBpeHead,
      $rounds,
      enc AS (
        SELECT word,
               CAST(len(string_split(sym_str, $oBpeSep)) AS BIGINT) AS n_pieces
        FROM s_$bpeMergeRounds),
      docw AS (SELECT doc_id, unnest($oracleToks) AS word FROM documents)
      SELECT doc.doc_id,
             CAST(COALESCE(SUM(e.n_pieces), 0) AS BIGINT) AS n_pieces
      FROM documents doc
      LEFT JOIN docw w ON w.doc_id = doc.doc_id
      LEFT JOIN enc e ON e.word = w.word
      GROUP BY 1
    """.stripMargin.trim
    },
  )

  /** Encode a (doc_id, text) frame with a trained merge table: per word,
    * repeatedly merge the lowest-rank adjacent pair until none applies —
    * the standard BPE encode. This is genuine per-partition imperative
    * logic (the merge cascade is data-dependent and unbounded-depth, so
    * neither a fixed expression tree nor a join expresses it) — the
    * sanctioned `mapPartitions` class: the merge table broadcasts as
    * O(nMerges) ranks, encoding is per-row CPU with a per-partition word
    * cache (Zipf re-use: most running words repeat), zero shuffles.
    * Output: (doc_id, bpe_tokens array<string>); `concat_ws('', tokens)`
    * of each word is the word itself (round-trip, spec-pinned).
    */
  def bpeEncode(docsDf: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val ranks = merges.zipWithIndex.toMap
    val bcRanks = s.sparkContext.broadcast(ranks)
    docsDf
      .select($"doc_id", toks.as("tk"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val rk = bcRanks.value
        val cache = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        def encodeWord(w: String): Seq[String] =
          cache.getOrElseUpdate(w, {
            var syms = w.map(_.toString).toVector
            var done = false
            while (!done && syms.length >= 2) {
              val best = syms.zip(syms.tail).flatMap(p => rk.get(p).map(p -> _))
                .sortBy(_._2).headOption
              best match {
                case None => done = true
                case Some(((a, b), _)) =>
                  val out = Vector.newBuilder[String]
                  var i = 0
                  while (i < syms.length) {
                    if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                      out += (a + b); i += 2
                    } else { out += syms(i); i += 1 }
                  }
                  syms = out.result()
              }
            }
            syms
          })
        it.map { case (id, tk) => (id, tk.flatMap(encodeWord)) }
      }
      .toDF("doc_id", "bpe_tokens")
  }

  // ---------------------------------------------------------------------
  // TF-IDF keyword extraction — per-document top-3 terms by term
  // frequency x inverse document frequency, the retrieval/indexing
  // surface of the text pack. IDF uses the integer surrogate
  // (1e6·N) div df in place of log(N/df) — the familiar transcendental
  // substitution (t_collocations' lift, t_dsir_weight's ratio): within a
  // document, rare-in-corpus terms still dominate common ones, and the
  // score hash-matches across engines. Ties break on the token, so the
  // top-3 is fully deterministic.
  //
  // 100 TB shape: one (doc, token) tf agg, one token-keyed df agg
  // (vocabulary-scale join back — NO broadcast hint, AQE decides), the
  // one-row doc-count scalar via the sanctioned tiny-side BNLJ, then a
  // doc-partitioned rank window whose partitions are DOC-sized (bounded
  // by the longest document, never corpus-sized — the same
  // window-input-bounding rule as t_length_quantiles).
  // ---------------------------------------------------------------------

  /** The operator core over any (doc_id, text) frame. */
  private[graft] def tfidfTopKOn(docsDf: DataFrame, k: Int = 3): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val tf = docsDf
      .select($"doc_id", explode(toks).as("token"))
      .groupBy($"doc_id", $"token")
      .agg(count(lit(1)).cast("long").as("tf"))
    val df = tf.groupBy($"token").agg(count(lit(1)).cast("long").as("df"))
    val nDocs = docsDf.agg(count(lit(1)).cast("long").as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"token")
    tf.join(df, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr("tf * ((1000000 * n_docs) div df)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= k)
      .select($"doc_id", $"rnk", $"token", $"tf", $"df", $"score")
  }

  val tfidfTopK = Q(
    "t_tfidf_topk",
    (s, d) => tfidfTopKOn(fannedDocs(s, d)),
    Some(s"""
      WITH tok AS (SELECT doc_id, unnest($oracleToks) AS token FROM documents),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM tok GROUP BY 1, 2),
      dfr AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
      SELECT doc_id, rnk, token, tf, df, score FROM (
        SELECT tf.doc_id, tf.token, tf.tf, dfr.df,
               CAST(tf.tf * ((1000000 * n.n_docs) // dfr.df) AS BIGINT) AS score,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY tf.doc_id
                 ORDER BY tf.tf * ((1000000 * n.n_docs) // dfr.df) DESC, tf.token)
                 AS BIGINT) AS rnk
        FROM tf JOIN dfr USING (token), n)
      WHERE rnk <= 3
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Cross-document repeated-substring detection (Lee et al. 2021,
  // "Deduplicating Training Data Makes Language Models Better") — the
  // SPAN-grain dedup signal the doc-level (t_dedup_exact) and
  // paragraph-level (t_dedup_para) passes can't see: a boilerplate
  // sentence embedded mid-document repeats verbatim across the corpus
  // without any paragraph or document being byte-identical. The
  // suffix-array formulation is inherently single-machine; the
  // distributed equivalent is fixed-width token windows (stride 1) hashed
  // and counted corpus-wide — a window repeated ANYWHERE (across docs or
  // within one) marks its span duplicated, and per-doc duplicated
  // coverage is the merged-interval length of its duplicated windows.
  //
  // 100 TB shape: the window explode is linear in corpus tokens (the
  // CPU-dense stage — fanned out like the shingle pipelines); ONE shuffle
  // keyed by the 128-bit window hash counts repeats; the coverage merge
  // is a per-doc ordered window over only the DUPLICATED positions (a
  // corpus-wide rank never appears). Output is one row per document —
  // the drop/keep gate a cleaning pass filters on.
  // ---------------------------------------------------------------------

  private[graft] val winW = 20 // window width in tokens (Lee et al. use 50 on web-scale docs)

  /** The detection core over any (doc_id, text) frame — exposed for the
    * planted-span property spec.
    */
  /** (doc_id, text) → tokenized base frame, fanned for the CPU-dense
    * window-hash stage.
    */
  private def tokenizedBase(docsDf: DataFrame): DataFrame =
    fanOutCpu(docsDf.select(col("doc_id"), col("text"))).withColumn("tk", toks)

  /** The persisted span-index artifact of a curated base corpus: the
    * distinct window hashes (one shuffle). Day-2 ingest checks arriving
    * docs against THIS instead of re-hashing the base — see
    * [[graft.streaming.Streams.substringScrubSpansStream]].
    */
  private[graft] def substringIndexOn(docsDf: DataFrame): DataFrame =
    tokenWindows(tokenizedBase(docsDf)).select("h").distinct()

  /** Stream-safe window rows over a (doc_id, text) frame: the same
    * stride-1 window pipeline without the batch fan-out repartition
    * (micro-batches take their parallelism from the source).
    */
  private[graft] def streamTokenWindows(docsDf: DataFrame): DataFrame =
    tokenWindows(docsDf.select(col("doc_id"), col("text")).withColumn("tk", toks))

  /** base-with-tk → one row per stride-1 window: (doc_id, start, h).
    * CASE guard, not greatest(): sequence(1, 0) DESCENDS in Spark.
    */
  private def tokenWindows(base: DataFrame): DataFrame = {
    val winsCol = expr(
      s"""CASE WHEN size(tk) >= $winW THEN transform(
         |  sequence(1, size(tk) - ${winW - 1}),
         |  i -> named_struct('start', i, 'h', md5(concat_ws(' ', slice(tk, i, $winW)))))
         |ELSE CAST(array() AS array<struct<start:int,h:string>>) END""".stripMargin)
    base
      .select(col("doc_id"), explode(winsCol).as("w"))
      .select(col("doc_id"), col("w.start").as("start"), col("w.h").as("h"))
  }

  /** (doc_id, start, fin) span rows → per-doc merged-interval stats
    * (doc_id, n_spans, cov_tokens). Classic merged-interval length:
    * starts are unique per doc, so the running max of prior ends tells
    * how much of [start, fin] is new. Shared by the corpus-wide dup
    * signal and the delta-vs-base variant.
    */
  private def mergedCoverage(spans: DataFrame): DataFrame = {
    val wCov = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    spans
      .withColumn("prev_max", max(col("fin")).over(wCov))
      .withColumn("add",
        greatest(lit(0),
          col("fin") - greatest(coalesce(col("prev_max"), lit(0)), col("start") - 1)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("add")).as("cov_tokens"))
  }

  /** base-with-tk frame → per-doc (doc_id, n_tokens, n_wins) stats. */
  private def windowStats(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
      size(col("tk")).cast("long").as("n_tokens"),
      greatest(size(col("tk")) - (winW - 1), lit(0)).cast("long").as("n_wins"))

  private[queries] def substringDupOn(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val base = tokenizedBase(docsDf)
    val wins = tokenWindows(base)
    val dup = wins
      .withColumn("c", count(lit(1)).over(Window.partitionBy($"h")))
      .filter($"c" > 1)
      .select($"doc_id", $"start", ($"start" + winW - 1).as("fin"))
    windowStats(base)
      .join(mergedCoverage(dup), Seq("doc_id"), "left")
      .withColumn("n_dup_wins", coalesce($"n_spans", lit(0L)).cast("long"))
      .withColumn("dup_tokens", coalesce($"cov_tokens", lit(0L)).cast("long"))
      .withColumn("dup_pct",
        floor(lit(100.0) * $"dup_tokens" / $"n_tokens").cast("long"))
      .select($"doc_id", $"n_tokens", $"n_wins", $"n_dup_wins", $"dup_tokens",
        $"dup_pct", ($"dup_pct" >= 20).as("flag_dup"))
  }

  val substringDup = Q(
    "t_substring_dup",
    // the core fans its own input out (fanOutCpu) — no pre-fanned frame
    (s, d) => substringDupOn(docs(s, d)),
    Some(s"""
      WITH t AS (SELECT doc_id, $oracleToks AS tk FROM documents),
      idx AS (
        SELECT doc_id, tk,
               unnest(generate_series(1, greatest(len(tk) - ${winW - 1}, 0))) AS start
        FROM t),
      wins AS (
        SELECT doc_id, start, start + ${winW - 1} AS fin,
               md5(array_to_string(tk[start:start + ${winW - 1}], ' ')) AS h
        FROM idx),
      dup AS (
        SELECT doc_id, start, fin FROM (
          SELECT *, COUNT(*) OVER (PARTITION BY h) AS c FROM wins) WHERE c > 1),
      cov AS (
        SELECT doc_id, start, fin,
               MAX(fin) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM dup),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_dup_wins,
               SUM(GREATEST(0, fin - GREATEST(COALESCE(prev_max, 0), start - 1))) AS dup_tokens
        FROM cov GROUP BY 1),
      stats AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(GREATEST(len(tk) - ${winW - 1}, 0) AS BIGINT) AS n_wins
        FROM t)
      SELECT s.doc_id, s.n_tokens, s.n_wins,
             CAST(COALESCE(a.n_dup_wins, 0) AS BIGINT) AS n_dup_wins,
             CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             CAST(FLOOR(100.0 * COALESCE(a.dup_tokens, 0) / s.n_tokens) AS BIGINT) AS dup_pct,
             (CAST(FLOOR(100.0 * COALESCE(a.dup_tokens, 0) / s.n_tokens) AS BIGINT) >= 20) AS flag_dup
      FROM stats s LEFT JOIN agg a USING (doc_id)
    """.stripMargin.trim),
    bench = true, // the window explode + 128-bit-hash shuffle is CPU-dense — track it
  )

  // ---------------------------------------------------------------------
  // Normalized dedup key (CCNet, Wenzek et al. 2020) — exact-dedup's blind
  // spot is cosmetic variation: the same article recrawled with different
  // capitalization, punctuation, or whitespace hashes differently. The
  // normalization pipeline is NFC (the codegen'd `nfc` expression —
  // Spark has no built-in; see functions/NfcNormalize.scala) → lowercase
  // → punctuation to space → whitespace collapse → trim, and the dedup
  // key is the md5 of the result. Output marks, per doc, how many docs
  // share its key and whether it's the canonical (min doc_id) holder —
  // i.e. normalized exact dedup, ready to compose exactly like
  // t_dedup_exact.
  //
  // 100 TB shape: a pure per-row projection (all codegen'd, including the
  // NFC step) plus ONE shuffle on the 128-bit key for the group stats.
  // ---------------------------------------------------------------------

  val normKey = Q(
    "t_norm_key",
    (s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.registerNfc(s)
      val normText = trim(
        regexp_replace(
          regexp_replace(lower(expr("nfc(text)")), "[^a-z0-9 ]", " "),
          " +", " "))
      val w = Window.partitionBy($"norm_key")
      docs(s, d)
        .select($"doc_id", $"text", normText.as("norm_text"))
        .select(
          $"doc_id",
          md5($"norm_text").as("norm_key"),
          length($"text").cast("long").as("n_chars_raw"),
          length($"norm_text").cast("long").as("n_chars_norm"),
          ($"norm_text" =!= $"text").as("changed"))
        .withColumn("n_key_docs", count(lit(1)).over(w))
        .withColumn("is_canonical", $"doc_id" === min($"doc_id").over(w))
    },
    Some("""
      WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        FROM documents)
      SELECT doc_id, md5(norm_text) AS norm_key,
             CAST(length(text) AS BIGINT) AS n_chars_raw,
             CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
             (norm_text <> text) AS changed,
             CAST(COUNT(*) OVER (PARTITION BY md5(norm_text)) AS BIGINT) AS n_key_docs,
             (doc_id = MIN(doc_id) OVER (PARTITION BY md5(norm_text))) AS is_canonical
      FROM n
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Repeated-substring SCRUB — the rewrite pass t_substring_dup's signal
  // feeds (Lee et al. 2021 keep-first-occurrence semantics): every
  // duplicated window's globally-FIRST occurrence (min (doc_id, start))
  // keeps its tokens; every other occurrence's span is cut from its
  // document. Unlike flag-and-drop, this salvages mostly-unique documents
  // that embed one boilerplate sentence.
  //
  // 100 TB shape: the same linear window pipeline, ONE shuffle on the
  // window hash (count + first-occurrence rank in a single window pass),
  // then the scrub spans collect per doc — a list bounded by the doc's
  // own window count, never corpus-sized — and the token filter is a
  // per-row HOF over (tokens × spans), all doc-local. No token-level
  // shuffle: spans travel keyed by doc_id, tokens never leave their row.
  // ---------------------------------------------------------------------

  /** The scrub core over any (doc_id, text) frame — exposed for the
    * planted-span property spec.
    */
  private[queries] def substringScrubOn(docsDf: DataFrame): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val base = tokenizedBase(docsDf)
    val wH = Window.partitionBy($"h")
    val marked = tokenWindows(base)
      .withColumn("c", count(lit(1)).over(wH))
      .withColumn("rk", row_number().over(wH.orderBy($"doc_id", $"start")))
    val spans = marked
      .filter($"c" > 1 && $"rk" > 1)
      .select($"doc_id", $"start", ($"start" + winW - 1).as("fin"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"start", $"fin"))).as("ivs0"))
    base
      .join(spans, Seq("doc_id"), "left")
      .withColumn("ivs",
        coalesce($"ivs0", expr("CAST(array() AS array<struct<start:int,fin:int>>)")))
      .withColumn("kept", expr(
        """filter(transform(tk, (t, i) -> named_struct('t', t, 'p', i + 1)),
          |  x -> NOT exists(ivs, v -> x.p >= v.start AND x.p <= v.fin))""".stripMargin))
      .select(
        $"doc_id",
        size($"tk").cast("long").as("n_tokens"),
        (size($"tk") - size($"kept")).cast("long").as("n_scrubbed"),
        concat_ws(" ", expr("transform(kept, x -> x.t)")).as("clean_text"))
  }

  val substringScrub = Q(
    "t_substring_scrub",
    (s, d) => substringScrubOn(docs(s, d)),
    Some(s"""
      WITH t AS (SELECT doc_id, $oracleToks AS tk FROM documents),
      idx AS (
        SELECT doc_id, tk,
               unnest(generate_series(1, greatest(len(tk) - ${winW - 1}, 0))) AS start
        FROM t),
      wins AS (
        SELECT doc_id, start, start + ${winW - 1} AS fin,
               md5(array_to_string(tk[start:start + ${winW - 1}], ' ')) AS h
        FROM idx),
      marked AS (
        SELECT *, COUNT(*) OVER (PARTITION BY h) AS c,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rk
        FROM wins),
      scrub AS (SELECT doc_id, start, fin FROM marked WHERE c > 1 AND rk > 1),
      pos AS (
        SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS p
        FROM t),
      kept AS (
        SELECT p.doc_id, p.p, p.tk[p.p] AS tok,
               NOT EXISTS (SELECT 1 FROM scrub s
                           WHERE s.doc_id = p.doc_id
                             AND p.p BETWEEN s.start AND s.fin) AS keep
        FROM pos p)
      SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
             CAST(len(t.tk) - COUNT(*) FILTER (WHERE k.keep) AS BIGINT) AS n_scrubbed,
             COALESCE(string_agg(k.tok, ' ' ORDER BY k.p) FILTER (WHERE k.keep), '') AS clean_text
      FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
      GROUP BY t.doc_id, len(t.tk)
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Incremental SPAN-grain ingest check — the 4th grain of the delta
  // family (exact t_delta_dedup, lexical t_delta_neardup, semantic
  // t_delta_semantic, span THIS): arriving docs' stride-1 windows checked
  // against the BASE corpus's span index, cross-set only — base×base and
  // delta×delta repeats never materialize (the former is curation-time
  // work already done, the latter is the next compaction's job). At scale
  // the base side IS the stored distinct-window-hash index
  // ([[substringIndexOn]] — the same artifact the streaming twin reads);
  // recomputing it inline keeps the row self-contained. Output is
  // per-delta-doc base-owned coverage — the "how much of this new doc is
  // already in the corpus verbatim" signal.
  // ---------------------------------------------------------------------

  /** The core over any (doc_id, text, batch∈{base,delta}) frame. */
  private[queries] def deltaSubstringOn(tagged: DataFrame): DataFrame = {
    val s = tagged.sparkSession
    import s.implicits._
    val baseIdx = tokenWindows(tokenizedBase(tagged.filter($"batch" === "base")))
      .select($"h").distinct()
    val deltaBase = tokenizedBase(tagged.filter($"batch" === "delta"))
    val hits = tokenWindows(deltaBase)
      .join(baseIdx, Seq("h"))
      .select($"doc_id", $"start", ($"start" + winW - 1).as("fin"))
    windowStats(deltaBase)
      .join(mergedCoverage(hits), Seq("doc_id"), "left")
      .select(
        $"doc_id", $"n_tokens", $"n_wins",
        coalesce($"n_spans", lit(0L)).cast("long").as("n_base_wins"),
        coalesce($"cov_tokens", lit(0L)).cast("long").as("base_cov_tokens"),
        floor(lit(100.0) * coalesce($"cov_tokens", lit(0L)) / $"n_tokens")
          .cast("long").as("base_cov_pct"))
      .withColumn("flag_dup", $"base_cov_pct" >= 20)
  }

  val deltaSubstring = Q(
    "t_delta_substring",
    (s, d) =>
      deltaSubstringOn(docs(s, d).select(col("doc_id"), col("text"), batchOf.as("batch"))),
    Some(s"""
      WITH t AS (
        SELECT doc_id, $oracleToks AS tk,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM documents),
      bidx AS (
        SELECT DISTINCT md5(array_to_string(tk[start:start + ${winW - 1}], ' ')) AS h
        FROM (SELECT doc_id, tk,
                     unnest(generate_series(1, greatest(len(tk) - ${winW - 1}, 0))) AS start
              FROM t WHERE batch = 'base')),
      dwins AS (
        SELECT doc_id, start, start + ${winW - 1} AS fin,
               md5(array_to_string(tk[start:start + ${winW - 1}], ' ')) AS h
        FROM (SELECT doc_id, tk,
                     unnest(generate_series(1, greatest(len(tk) - ${winW - 1}, 0))) AS start
              FROM t WHERE batch = 'delta')),
      hits AS (SELECT d.doc_id, d.start, d.fin FROM dwins d JOIN bidx b USING (h)),
      cov AS (
        SELECT doc_id, start, fin,
               MAX(fin) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM hits),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_base_wins,
               SUM(GREATEST(0, fin - GREATEST(COALESCE(prev_max, 0), start - 1))) AS base_cov_tokens
        FROM cov GROUP BY 1),
      stats AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(GREATEST(len(tk) - ${winW - 1}, 0) AS BIGINT) AS n_wins
        FROM t WHERE batch = 'delta')
      SELECT s.doc_id, s.n_tokens, s.n_wins,
             CAST(COALESCE(a.n_base_wins, 0) AS BIGINT) AS n_base_wins,
             CAST(COALESCE(a.base_cov_tokens, 0) AS BIGINT) AS base_cov_tokens,
             CAST(FLOOR(100.0 * COALESCE(a.base_cov_tokens, 0) / s.n_tokens) AS BIGINT) AS base_cov_pct,
             (CAST(FLOOR(100.0 * COALESCE(a.base_cov_tokens, 0) / s.n_tokens) AS BIGINT) >= 20) AS flag_dup
      FROM stats s LEFT JOIN agg a USING (doc_id)
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Per-source corpus report — the observability rollup every pipeline
  // prints before anyone decides mixing weights or quota caps: for each
  // source, volume (docs/tokens), exact-dup involvement, the quality-gate
  // class mix (same gate as t_quality_score/t_clean_corpus — shared
  // definition, not a copy), a token-weighted distinct ratio, and the
  // language profile (distinct langs + dominant lang). This is the table
  // t_domain_mix's weights are chosen FROM.
  //
  // 100 TB shape: one corpus-wide text-hash shuffle (dup involvement),
  // one (source, lang) agg + per-source rank over |sources|x|langs| rows
  // (never corpus-sized), one source-keyed final agg — output is
  // O(|sources|).
  // ---------------------------------------------------------------------

  val sourceReport = Q(
    "t_source_report",
    (s, d) => {
      import s.implicits._
      val perDoc = withQuality(docs(s, d))
        .withColumn("is_dup",
          count(lit(1)).over(Window.partitionBy(md5($"text"))) > 1)
      val bySource = perDoc
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("n_tokens"),
          sum(when($"is_dup", 1L).otherwise(0L)).as("n_dup_docs"),
          sum(when($"quality" === "good", 1L).otherwise(0L)).as("n_good"),
          sum(when($"quality" === "fair", 1L).otherwise(0L)).as("n_fair"),
          sum(when($"quality" === "poor", 1L).otherwise(0L)).as("n_poor"),
          sum($"n_distinct").as("sum_distinct"))
      val wLang = Window.partitionBy($"source")
      val langTop = docs(s, d)
        .groupBy($"source", $"lang")
        .agg(count(lit(1)).as("n_l"))
        .withColumn("n_langs", count(lit(1)).over(wLang))
        .withColumn("rk",
          row_number().over(wLang.orderBy($"n_l".desc, $"lang".asc)))
        .filter($"rk" === 1)
        .select($"source", $"n_langs", $"lang".as("top_lang"))
      bySource
        .join(langTop, Seq("source"))
        .select(
          $"source", $"n_docs", $"n_tokens", $"n_dup_docs",
          floor(lit(100.0) * $"n_dup_docs" / $"n_docs").cast("long").as("dup_pct"),
          $"n_good", $"n_fair", $"n_poor",
          floor(lit(1e6) * $"sum_distinct" / $"n_tokens").cast("long").as("ttr_ppm"),
          $"n_langs", $"top_lang")
    },
    Some {
      val stopPred = stopwords.map(w => s"x = '$w'").mkString(" or ")
      s"""
      WITH per_doc AS (
        SELECT doc_id, source, lang,
               len($oracleToks) AS n_tokens,
               len(list_distinct($oracleToks)) AS n_distinct,
               len(list_filter($oracleToks, x -> $stopPred)) AS n_stop,
               COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
        FROM documents),
      classed AS (
        SELECT *,
               CASE WHEN n_tokens >= 20 AND FLOOR(100.0 * n_distinct / n_tokens) >= 25
                         AND FLOOR(100.0 * n_stop / n_tokens) <= 40 THEN 'good'
                    WHEN n_tokens >= 10 THEN 'fair'
                    ELSE 'poor' END AS quality
        FROM per_doc),
      by_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
               CAST(SUM(CASE WHEN quality = 'good' THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN quality = 'fair' THEN 1 ELSE 0 END) AS BIGINT) AS n_fair,
               CAST(SUM(CASE WHEN quality = 'poor' THEN 1 ELSE 0 END) AS BIGINT) AS n_poor,
               CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct
        FROM classed GROUP BY 1),
      lang_counts AS (
        SELECT source, lang, COUNT(*) AS n_l FROM documents GROUP BY 1, 2),
      lang_top AS (
        SELECT source, n_langs, lang AS top_lang FROM (
          SELECT source, lang,
                 CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_langs,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_l DESC, lang ASC) AS rk
          FROM lang_counts) WHERE rk = 1)
      SELECT b.source, b.n_docs, b.n_tokens, b.n_dup_docs,
             CAST(FLOOR(100.0 * b.n_dup_docs / b.n_docs) AS BIGINT) AS dup_pct,
             b.n_good, b.n_fair, b.n_poor,
             CAST(FLOOR(1e6 * b.sum_distinct / b.n_tokens) AS BIGINT) AS ttr_ppm,
             l.n_langs, l.top_lang
      FROM by_source b JOIN lang_top l USING (source)
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Cross-document n-gram novelty — the corpus-wide complement of
  // t_repetition's intra-document signal: what fraction of a document's
  // distinct 3-gram shingles appear in NO other document. Low novelty
  // means the doc is assembled from corpus-common phrasing (boilerplate,
  // near-duplicate families the doc-grain dedup keeps); high novelty
  // marks unique content worth oversampling — and, inverted, a
  // memorization-risk signal for eval-set construction. Same per-mille
  // discipline as the quality scores: exact integer ppm only.
  //
  // Scale shape: the shingle-df table is the contamination/LSH shingle
  // shuffle (one corpus-sized equi-join on the 3-gram key); docs with
  // < 3 tokens have no shingles and drop out, matching the oracle's
  // unnest-of-empty-list. df == 1 (not a separate anti-join) reads
  // novelty straight off the count.
  // ---------------------------------------------------------------------

  val shingleNovelty = Q(
    "t_shingle_novelty",
    (s, d) => {
      import s.implicits._
      val sh = docShingles(s, d) // (doc_id, sh) — distinct within a doc
      val dfsh = sh.groupBy($"sh").agg(count(lit(1)).as("sdf"))
      sh.join(dfsh, "sh")
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(when($"sdf" === 1L, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_ppm", expr("(n_novel * 1000000L) div n_shingles"))
    },
    Some(s"""
      WITH shr AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM documents),
      dfsh AS (SELECT sh, COUNT(*) AS sdf FROM shr GROUP BY 1)
      SELECT s.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN d.sdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST((CAST(SUM(CASE WHEN d.sdf = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
               // COUNT(*) AS BIGINT) AS novelty_ppm
      FROM shr s JOIN dfsh d USING (sh) GROUP BY 1
    """.stripMargin.trim),
  )

  /** The LSH forget path hash-gated end to end: the index is built on
    * the base split, every 5th base doc is FORGOTTEN (tombstone epoch +
    * bucket-count give-back), and the delta screens against what
    * remains — a delta doc whose only collisions were with forgotten
    * docs must come back `kept`. The oracle recomputes the banded
    * screen over base-minus-forgotten from scratch, so an unapplied
    * tombstone or a missed count give-back is a hash mismatch.
    */
  val lshForget = Q(
    "t_lsh_forget",
    (s, d) => {
      import s.implicits._
      val tagged = fannedDocs(s, d).withColumn("batch", batchOf)
      val base = tagged.filter($"batch" === "base").select($"doc_id", $"text")
      val delta = tagged.filter($"batch" === "delta").select($"doc_id", $"text")
      val dir = graft.sources.Scratch.dir("graft-lsh-forget")
      writeLshIndex(base, dir)
      deleteFromLshIndex(base.filter($"doc_id" % 5 === 0).select($"doc_id"), dir)
      deltaNearDupFromIndex(delta, dir)
    },
    Some {
      val kCols = (0 until bandSize).map(j => s"k$j").mkString(", ")
      s"""
      WITH doc0 AS (
        SELECT doc_id, text,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM documents),
      sh AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM doc0),
      $oracleMinhashSigBands,
      bd AS (
        SELECT bands.*, doc0.batch,
               (doc0.batch = 'base' AND doc0.doc_id % 5 = 0) AS gone
        FROM bands JOIN doc0 USING (doc_id)),
      bc AS (
        SELECT band, $kCols,
               SUM(CASE WHEN batch = 'base' AND NOT gone THEN 1 ELSE 0 END) AS n_base
        FROM bd GROUP BY band, $kCols),
      nd AS (
        SELECT band, $kCols, COUNT(*) AS n_delta
        FROM bd WHERE batch = 'delta' GROUP BY band, $kCols),
      hitb AS (
        SELECT nd.band, $kCols FROM nd JOIN bc USING (band, $kCols)
        WHERE bc.n_base >= 1 AND nd.n_delta + bc.n_base <= $maxBucket),
      cand AS (
        SELECT DISTINCT bd.doc_id FROM bd JOIN hitb USING (band, $kCols)
        WHERE bd.batch = 'delta')
      SELECT d.doc_id,
             CASE WHEN c.doc_id IS NOT NULL THEN 'neardup_of_base'
                  ELSE 'kept' END AS verdict
      FROM doc0 d LEFT JOIN cand c USING (doc_id)
      WHERE d.batch = 'delta'
    """.stripMargin.trim
    },
  )

  /** The shingle forget path hash-gated end to end: index the base
    * split, FORGET every 5th-mod-1 base doc's shingle mass (negated-
    * count epoch), screen the delta — a delta shingle known only
    * through forgotten docs must read unknown again. The oracle
    * recomputes the known set over base-minus-forgotten from scratch,
    * so an unsubtracted count or a 0-df shingle still reading as known
    * is a hash mismatch.
    */
  val noveltyForget = Q(
    "t_novelty_forget",
    (s, d) => {
      import s.implicits._
      val tagged = fannedDocs(s, d).withColumn("batch", batchOf)
      val base = tagged.filter($"batch" === "base").select($"doc_id", $"text")
      val delta = tagged.filter($"batch" === "delta").select($"doc_id", $"text")
      val dir = graft.sources.Scratch.dir("graft-shingle-forget")
      writeShingleIndex(base, dir)
      forgetShingleDocs(base.filter($"doc_id" % 5 === 1), dir)
      deltaNoveltyFromIndex(delta, dir)
    },
    Some(s"""
      WITH doc0 AS (
        SELECT doc_id, text,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(doc_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM documents),
      shr AS (SELECT doc_id, unnest($oracleShingles) AS sh FROM doc0),
      wb AS (SELECT shr.doc_id, shr.sh, doc0.batch FROM shr JOIN doc0 USING (doc_id)),
      bs AS (SELECT DISTINCT sh FROM wb
             WHERE batch = 'base' AND doc_id % 5 <> 1),
      dd AS (
        SELECT wb.doc_id, CASE WHEN bs.sh IS NOT NULL THEN 1 ELSE 0 END AS known
        FROM wb LEFT JOIN bs USING (sh) WHERE wb.batch = 'delta')
      SELECT doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(known) AS BIGINT) AS n_known,
             CAST(((COUNT(*) - SUM(known)) * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
      FROM dd GROUP BY 1
    """.stripMargin.trim),
  )

  val qs: Seq[Q] = Seq(
    shingleNovelty,
    deltaNovelty,
    deltaNoveltyDay3,
    scd2History,
    scd2AsOfQ,
    snapshotDiff,
    lshPrecision,
    lshRecall,
    dedupEvidence,
    ccnetBuckets,
    textStats,
    tokenTopK,
    tokenHeavy,
    tokenBpe,
    langId,
    qualityScore,
    piiScrub,
    piiPlanted,
    dedupExact,
    dedupPara,
    repetition,
    lengthQuantiles,
    quantilesApprox,
    minhashLsh,
    neardupClusters,
    dedupStats,
    dedupKeepBest,
    ngramJaccard,
    jaccardPostDedup,
    simhash,
    simhashNearDup,
    neardupPostDedup,
    cleanCorpus,
    rollingFingerprint,
    deltaDedup,
    deltaNearDup,
    deltaNearDupDay3,
    lshForget,
    scd2Purge,
    noveltyForget,
    tokenDrift,
    bpeEncodeStats,
    unigramLm,
    boilerplate,
    collocations,
    chunk,
    dsirWeight,
    bigramLm,
    bpeTopPair,
    bpeMerges,
    tfidfTopK,
    substringDup,
    normKey,
    substringScrub,
    sourceReport,
    deltaSubstring,
  )
}
