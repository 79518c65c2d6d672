package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{StoredIndex, Tables}

/** Dataset-curation operators — the assignment half of a training-data
  * pipeline, downstream of cleaning/dedup (`TextOps`): deterministic
  * train/val/test splitting, per-source quota selection, and token-budget
  * shard packing. None of these exist in the reference (its analytics
  * stop at the aggregation layer); they are part of the
  * beyond-the-reference LLM-pipeline pack the engine targets.
  *
  * Scale notes, per operator:
  *   - split assignment is a pure per-row hash projection — embarrassingly
  *     parallel, no shuffle at all;
  *   - source quotas are a per-key bounded rank — the shuffle is keyed by
  *     `source`, and no task ever sees more than one source's rows
  *     (skewed mega-sources fall to AQE skew handling);
  *   - shard packing needs a GLOBAL running total, whose naive form — a
  *     `Window.orderBy` with no partition — plans as a SinglePartition
  *     sort that caps out at one task's memory. The implementation here
  *     is a distributed prefix sum instead: deterministic arithmetic id
  *     buckets, a one-row-per-bucket totals collect broadcast back as
  *     offsets, and a bucket-partitioned running-sum window. CurationSpec
  *     pins both the oracle parity and the no-SinglePartition plan
  *     property.
  */
object CurationOps {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** Run independent stored-fleet build chains CONCURRENTLY (guide §2.6
    * overlap): Spark's scheduler happily runs jobs submitted from several
    * driver threads at once, so while one root's build sits in its
    * small-file/manifest-commit tail the next root's tasks back-fill the
    * idle cores. The fleet drills were the two slowest rows of the full
    * sweep (t_erasure_cert 12.8 s, t_index_catalog 11.7 s at sf0.1) and
    * their cost is (sequential roots × many small jobs × local job
    * floor), not data volume — exactly the §2.6 case. Each task is one
    * root's FULL lifecycle (within-root epoch order preserved — manifest
    * epochs are per-root sequential by contract); roots never share a
    * path, and the shared input frames are immutable. Erasure fan-out
    * stays SEQUENTIAL where it is one (the DocTargets.ordered fixed
    * order is the crash/resume protocol's ground truth).
    */
  private[queries] def buildConcurrently(tasks: (String, () => Unit)*): Unit =
    graft.sources.Overlap.run(tasks: _*)

  /** DuckDB mirror of [[TextOps.h60]] `% buckets` — the md5-hex prefix
    * bridge used throughout the text pack.
    */
  private[queries] def oMd5Bucket(col: String, buckets: Int): String =
    s"('0x' || substr(md5(CAST($col AS VARCHAR)), 1, 15))::UBIGINT::BIGINT % $buckets"

  // ---------------------------------------------------------------------
  // Deterministic train/val/test split: hash the STABLE id, never
  // rand()/row position — re-running on a grown corpus must keep every
  // existing document's assignment (the property that makes eval sets
  // trustworthy across dataset versions). 80/10/10 over 1000 hash
  // buckets.
  // ---------------------------------------------------------------------

  val splitAssign = Q(
    "t_split_assign",
    (s, d) => {
      import s.implicits._
      // both columns derive from splitOf/splitBucketOf — the published
      // split and t_contamination's train set share ONE definition, so
      // editing a boundary can never desynchronize them
      docs(s, d)
        .select($"doc_id", splitBucketOf($"doc_id").as("bucket"),
          splitOf($"doc_id").as("split"))
    },
    Some(s"""
      SELECT doc_id,
             ${oMd5Bucket("doc_id", 1000)} AS bucket,
             $oSplitCase AS split
      FROM documents
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Per-source quota: keep the top-N documents of each source by
  // type-token ratio (the t_quality_score signal), deterministic
  // tie-break on doc_id. The domain-balancing step of corpus assembly —
  // without it, one crawl-heavy source dominates the token budget.
  // ---------------------------------------------------------------------

  private val quotaPerSource = 15

  val sourceQuota = Q(
    "t_source_quota",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source")
        .orderBy($"ttr_pct".desc, $"doc_id")
      docs(s, d)
        .select(
          $"doc_id",
          $"source",
          size(array_distinct(TextOps.toks)).cast("long").as("n_distinct"),
          size(TextOps.toks).cast("long").as("n_tokens"),
        )
        .withColumn("ttr_pct", floor(lit(100.0) * $"n_distinct" / $"n_tokens").cast("long"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= quotaPerSource)
        .select($"doc_id", $"source", $"ttr_pct", $"rnk")
    },
    Some(s"""
      WITH t AS (
        SELECT doc_id, source,
               len(list_distinct(list_filter(string_split(text, ' '), x -> x != ''))) AS n_distinct,
               len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens
        FROM documents)
      SELECT doc_id, source,
             CAST(FLOOR(100.0 * n_distinct / n_tokens) AS BIGINT) AS ttr_pct,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(FLOOR(100.0 * n_distinct / n_tokens) AS BIGINT) DESC, doc_id)
               AS BIGINT) AS rnk
      FROM t QUALIFY rnk <= $quotaPerSource
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Stratified sampling: per-group deterministic downsampling — keep X%
  // of each language, rebalancing over-represented strata without
  // rand()'s run-to-run churn. Same stability contract as the split:
  // the kept set is a pure function of (doc_id, lang), so re-running on
  // a grown corpus keeps every previously-kept document. A pure per-row
  // projection+filter — no shuffle, embarrassingly parallel.
  //
  // The hash is SALTED (doc_id || ':sample') so the sample decision is
  // independent of t_split_assign's h60(doc_id): unsalted, bucket%100 is
  // correlated with the split's bucket%1000, and any split boundary not a
  // multiple of 100 would sample some strata at systematically skewed
  // rates (e.g. an 85/10/5 split would keep 0% of parts of val).
  // ---------------------------------------------------------------------

  private val sampleRates: Seq[(String, Int)] = // percent kept per lang
    Seq("en" -> 25, "de" -> 50, "fr" -> 50)
  private val defaultRate = 100

  val stratifiedSample = Q(
    "t_stratified_sample",
    (s, d) => {
      import s.implicits._
      val rate = sampleRates.foldLeft(lit(defaultRate)) { case (acc, (l, r)) =>
        when($"lang" === l, lit(r)).otherwise(acc)
      }
      docs(s, d)
        .withColumn(
          "bucket",
          TextOps.h60(concat($"doc_id".cast("string"), lit(":sample"))) % 100)
        .filter($"bucket" < rate)
        .select($"doc_id", $"lang", $"bucket")
    },
    Some {
      val rate = sampleRates.foldLeft(defaultRate.toString) { case (acc, (l, r)) =>
        s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
      }
      val salted = oMd5Bucket("CAST(doc_id AS VARCHAR) || ':sample'", 100)
      s"""
      SELECT doc_id, lang, $salted AS bucket
      FROM documents
      WHERE $salted < ($rate)
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Exact-k stratified sampling — the fixed-COUNT counterpart of
  // t_stratified_sample's fixed-RATE keep: exactly k documents per
  // stratum (fewer only when the stratum is smaller than k), chosen by
  // salted-hash order so the draw is uniform, deterministic, and stable
  // under reruns. Eval-set construction wants this form (: "give me
  // exactly 40 per language"), where a rate draw only hits k in
  // expectation.
  //
  // 100 TB shape: one shuffle keyed by the stratum, and the per-stratum
  // rank is BOUNDED — every task ranks one stratum's rows and emits at
  // most k, the same bounded-rank class as t_source_quota (skewed
  // mega-strata fall to AQE skew handling). Unlike a global sort-and-
  // take, nothing funnels through a single partition.
  // ---------------------------------------------------------------------

  private val exactK = 40L

  val sampleExactK = Q(
    "t_sample_exact_k",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang")
        .orderBy(
          TextOps.h60(concat($"doc_id".cast("string"), lit(":ksample"))).asc,
          $"doc_id".asc) // total order even on 60-bit hash collisions
      docs(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= exactK)
        .select($"doc_id", $"lang", $"rk")
    },
    Some {
      val h = s"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ksample'), 1, 15))::UBIGINT::BIGINT"
      s"""
      SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS rk
        FROM documents)
      WHERE rk <= $exactK
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Weighted sampling WITHOUT replacement — the importance-weighted
  // eval-draw (Efraimidis-Spirakis 2006's weighted reservoir, the tool
  // for "oversample the rare languages k-for-k"): each document gets an
  // integer weight and the draw keeps exactly k documents, each PREFIX
  // of the keep order distributed as successive weighted draws without
  // replacement. The textbook key u^(1/w) needs ln/pow, whose last-ulp
  // behavior differs between the JVM and DuckDB's libm — a hash-compare
  // oracle can't tolerate that. Instead the EXPANSION equivalence keeps
  // all math integer: give each document w virtual copies with
  // independent salted 60-bit hash keys and order documents by the MIN
  // key over their copies. The first document wins with probability
  // w/W, and conditioned on the leader's copies, the remaining copies
  // stay exchangeable iid uniforms — successive ranks are exactly the
  // without-replacement chain. Bit-for-bit reproducible in both
  // engines; ties broken by doc_id (60-bit collisions).
  //
  // 100 TB shape: a pure per-row projection (w <= 5 hashes per doc,
  // built-in HOFs, no UDF) followed by a global top-k =
  // TakeOrderedAndProject — every partition ships at most k rows to
  // the driver merge, the same bounded-funnel class as T4. No shuffle
  // at all. Weights here are small integers by design: the expansion
  // is O(w) per row, so quality tiers (1..5) are the intended domain,
  // not unbounded floats (those would want the ln-key form and a
  // banded oracle).
  // ---------------------------------------------------------------------

  private[graft] val weightedK = 60
  private val langDrawWeights: Seq[(String, Int)] = // copies per lang
    Seq("en" -> 1, "de" -> 3, "fr" -> 5)
  private val defaultDrawWeight = 2

  /** Adds `weight` (the lang tier) and `draw_key` (min of the weight's
    * salted copy hashes) to a (doc_id, lang, ...) frame — the per-row
    * half of the weighted draw, shared by the batch row and its
    * streaming twin ([[graft.streaming.Streams.weightedSampleStream]]):
    * the draw keys are a pure per-row function, so "smallest k keys"
    * commutes with any batching of the input.
    */
  private[graft] def weightedDrawKeyed(docs: DataFrame): DataFrame = {
    val w = langDrawWeights.foldLeft(lit(defaultDrawWeight)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    docs
      .withColumn("weight", w.cast("long"))
      .withColumn(
        "draw_key",
        array_min(transform(
          sequence(lit(0L), col("weight") - 1L),
          j => TextOps.h60(concat(
            col("doc_id").cast("string"), lit(":wsample:"), j.cast("string"))))))
  }

  val weightedSample = Q(
    "t_weighted_sample",
    (s, d) => {
      import s.implicits._
      weightedDrawKeyed(docs(s, d))
        .orderBy($"draw_key".asc, $"doc_id".asc)
        .limit(weightedK)
        .select($"doc_id", $"lang", $"weight", $"draw_key")
    },
    Some {
      val w = langDrawWeights.foldLeft(defaultDrawWeight.toString) {
        case (acc, (l, r)) => s"CASE WHEN lang = '$l' THEN $r ELSE $acc END"
      }
      val h = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample:' || " +
        "CAST(j AS VARCHAR)), 1, 15))::UBIGINT::BIGINT"
      s"""
      SELECT doc_id, lang, weight,
             list_min(list_transform(generate_series(0, weight - 1), j -> $h))
               AS draw_key
      FROM (SELECT doc_id, lang, CAST(($w) AS BIGINT) AS weight FROM documents)
      ORDER BY draw_key, doc_id LIMIT $weightedK
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Domain mixing — the data-mixture step of corpus assembly (the Pile /
  // Dolma pattern): given target mixture WEIGHTS over the listed sources,
  // find the largest total token budget B whose per-source needs
  // (w_s/W · B) fit inside each source's actual supply T_s — i.e.
  // B = min_s floor(T_s · W / w_s), the binding-source rule — then keep
  // a deterministic salted-hash fraction of each source's documents that
  // lands the budget. Unlisted sources are not part of the mixture and
  // are dropped (a mixture definition is a whitelist). All math is exact
  // integer (floor divisions), so DuckDB reproduces the rates bit-for-bit.
  //
  // 100 TB shape: one per-source token agg (20 rows — domains are
  // low-cardinality) collected to the driver O(|sources|) — the same
  // sanctioned one-row-per-bucket hand-off as the shard packer (a
  // constant-key self-join formulation was tried and Catalyst folds the
  // literal key away, planning the BroadcastNestedLoopJoin the plan guard
  // bans) — then one broadcast join of the ≤|sources| rate table onto the
  // corpus scan with a per-row hash filter. No corpus-sized shuffle at all.
  // ---------------------------------------------------------------------

  private val mixWeights: Seq[(String, Long)] = // relative target weights
    Seq("src0" -> 40L, "src1" -> 20L, "src2" -> 10L, "src3" -> 5L)
  private val mixW: Long = mixWeights.map(_._2).sum

  /** Parts-per-million rate granularity. The earlier percent form (100
    * hash buckets) quantized each source's budget by up to ~1% — ~1 TB
    * per source at corpus scale; ppm makes that 10^-6 for free, since
    * the hash already has 60 bits. Driver-side rate math runs in BigInt
    * (10^6 · token-counts exceeds 2^63 once a source holds ~10^13
    * tokens — exactly the 100 TB regime); the DuckDB mirror hops through
    * HUGEINT for the same reason.
    */
  private val mixDenom = 1000000L

  /** The mixing core over any (doc_id, source, text) frame — exposed for
    * the quantization/missing-source specs. A listed source ABSENT from
    * the frame contributes zero tokens exactly like a listed source whose
    * rows are token-less: both bind the budget to 0 and empty the mix (a
    * mixture cannot be satisfied when a mandated ingredient is missing) —
    * the whitelist is left-joined against the observed totals so the two
    * cases can never diverge.
    */
  private[queries] def domainMixOn(docsDf: DataFrame, weights: Seq[(String, Long)]): DataFrame =
    domainMixOn(docsDf, weights, None)

  /** `tokenTotals`: precomputed per-source token totals (for listed
    * sources) — [[temperatureMixOn]] already aggregates them to derive
    * its weights, so passing them through avoids tokenizing and
    * aggregating the corpus a second time per invocation.
    */
  private[queries] def domainMixOn(docsDf: DataFrame, weights: Seq[(String, Long)],
      tokenTotals: Option[Map[String, Long]]): DataFrame = {
    require(weights.nonEmpty, "a mixture needs at least one listed source")
    require(weights.forall(_._2 > 0),
      s"mixture weights must be positive: ${weights.filter(_._2 <= 0)}")
    val sp = docsDf.sparkSession
    import sp.implicits._
    val wSum = weights.map(_._2).sum
    val weightCol = weights.foldLeft(lit(null).cast("long")) {
      case (acc, (src, w)) => when(col("source") === src, lit(w)).otherwise(acc)
    }
    val counted = docsDf
      .select(col("doc_id"), col("source"), weightCol.as("w"))
      .filter(col("w").isNotNull)
    // one row per LISTED source — the collect is O(|weights|), never
    // O(rows), mirroring the shard packer's bucket-offset hand-off
    val present = tokenTotals.getOrElse(docsDf
      .select(col("source"), size(TextOps.toks).cast("long").as("n_tokens"))
      .filter(weightCol.isNotNull)
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap)
    val totals = weights.map { case (src, w) => (src, w, present.getOrElse(src, 0L)) }
    val b = totals.map { case (_, w, toks) => BigInt(toks) * wSum / w }.min
    val rates = totals
      .map { case (src, w, toks) =>
        (src, if (toks == 0) 0L else (BigInt(mixDenom) * (w * b / wSum) / toks).toLong)
      }
      .toDF("source", "rate_ppm")
    counted
      .join(broadcast(rates), "source")
      .withColumn(
        "bucket",
        TextOps.h60(concat($"doc_id".cast("string"), lit(":mix"))) % mixDenom)
      .filter($"bucket" < $"rate_ppm")
      .select($"doc_id", $"source", $"rate_ppm", $"bucket")
  }

  val domainMix = Q(
    "t_domain_mix",
    (s, d) => domainMixOn(docs(s, d), mixWeights),
    Some {
      val weightsValues = mixWeights
        .map { case (s0, w) => s"('$s0', ${w}::BIGINT)" }.mkString(", ")
      val salted = oMd5Bucket("CAST(doc_id AS VARCHAR) || ':mix'", mixDenom.toInt)
      s"""
      WITH weights(source, w) AS (VALUES $weightsValues),
      observed AS (
        SELECT d.source,
               CAST(SUM(len(list_filter(string_split(d.text, ' '), x -> x != ''))) AS BIGINT) AS toks
        FROM documents d JOIN weights w ON d.source = w.source
        GROUP BY 1),
      totals AS (
        SELECT w.source, w.w, COALESCE(o.toks, 0) AS toks
        FROM weights w LEFT JOIN observed o ON w.source = o.source),
      budget AS (SELECT MIN(CAST(toks AS HUGEINT) * $mixW // w) AS b FROM totals),
      rates AS (
        SELECT t.source,
               CASE WHEN t.toks = 0 THEN 0
                    ELSE CAST(($mixDenom::HUGEINT * (CAST(t.w AS HUGEINT) * b.b // $mixW))
                              // t.toks AS BIGINT) END AS rate_ppm
        FROM totals t CROSS JOIN budget b)
      SELECT d.doc_id, d.source, r.rate_ppm, $salted AS bucket
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE $salted < r.rate_ppm
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Token-budget shard packing: documents in doc_id order are packed
  // into fixed-token-budget shards (shard = running total DIV budget) —
  // the step that turns a curated corpus into balanced training files.
  //
  // The running total is a global prefix sum. Naively that is
  //   SUM(n_tokens) OVER (ORDER BY doc_id)  -- one SinglePartition sort
  // which serializes the whole corpus through one task. Distributed
  // form: split the id space into ARITHMETIC buckets (from one cheap
  // max(doc_id) job — deterministic, unlike RangePartitioner's sampled
  // boundaries, so the offsets job and the output provably agree), then
  //   1. per-bucket token totals — ONE ROW per bucket — collected,
  //      prefix-offset on the driver, broadcast-joined back;
  //   2. the within-bucket prefix as a window partitioned BY BUCKET
  //      (ordered running sum — spillable, never SinglePartition).
  // The source is scanned twice (totals + output) rather than cached:
  // a stateless recompute beats holding a corpus-sized frame pinned
  // across consumers. Bucket width assumes roughly dense doc ids; id
  // gaps skew bucket SIZES but never correctness.
  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // Eval-contamination check: the op every training-data pipeline runs
  // before shipping an eval — for each val/test document, how much of its
  // 3-gram shingle set already appears in ANY train document? High overlap
  // means the eval doc (or a near-duplicate of it) leaked into train and
  // its eval score is memorization, not generalization.
  //
  // Composition, not new machinery: t_split_assign's hash split (a pure
  // function of doc_id, so no join is needed to tag shingle rows) +
  // TextOps' shingle pipeline, overlapped via a shingle equi-join — never
  // all-pairs. 100 TB shape: one distinct on the train shingle set
  // (shuffle keyed by shingle), one shingle-keyed equi-join (both sides
  // corpus-scale, so NO broadcast hint — AQE decides), one doc_id-keyed
  // count agg. The contaminated threshold is 80% (n_overlap*5 >= n_sh*4):
  // on a shared-vocabulary corpus background overlap sits near 50% while
  // leaked near-duplicates sit at 90-100%, so 80% separates signal from
  // vocabulary noise (distribution measured at sf0.001/sf0.01 — see
  // ContaminationSpec).
  // ---------------------------------------------------------------------

  /** Split bucket (0-999) of the stable id — the shared base of
    * [[splitOf]] and [[splitAssign]].
    */
  private[queries] def splitBucketOf(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    TextOps.h60(idCol.cast("string")) % 1000

  /** Split label as a pure function of the stable id — [[splitAssign]]
    * and t_contamination both build on THIS definition (single source of
    * truth; there is no second copy of the 80/10/10 boundaries anywhere).
    */
  private[queries] def splitOf(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = splitBucketOf(idCol)
    when(bucket < 800, lit("train")).when(bucket < 900, lit("val")).otherwise(lit("test"))
  }

  private def oSplitCase: String =
    s"""CASE WHEN ${oMd5Bucket("doc_id", 1000)} < 800 THEN 'train'
       |     WHEN ${oMd5Bucket("doc_id", 1000)} < 900 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** The operator core over any (doc_id, text) frame — exposed for the
    * differential property spec (planted cross-split duplicates through
    * the real plan); the catalog entry wires it to the fanned scan.
    * `evalList` (defaults to `docsDf`) feeds the final doc-list join —
    * the catalog passes the raw table here so that branch stays a pruned
    * doc_id-only scan instead of inheriting the shingle side's CPU
    * fan-out exchange.
    */
  private[queries] def contaminationOn(docsDf: DataFrame, evalList: DataFrame = null): DataFrame = {
    val evalDf = Option(evalList).getOrElse(docsDf)
    val sh = TextOps.shinglesOfDf(docsDf).withColumn("split", splitOf(col("doc_id")))
    val trainSh = sh.filter(col("split") === "train").select(col("sh")).distinct()
      .withColumn("hit", lit(1L))
    val counts = sh.filter(col("split") =!= "train")
      .join(trainSh, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
    // left join from the full eval doc list so shingle-less (tiny) docs
    // still get a row — absent rows read as "not checked", not "clean"
    evalDf.select(col("doc_id"), splitOf(col("doc_id")).as("split"))
      .filter(col("split") =!= "train")
      .join(counts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("split"),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn(
        "overlap_pct",
        when(col("n_sh") > 0, floor(lit(100.0) * col("n_overlap") / col("n_sh")))
          .otherwise(lit(0L)).cast("long"))
      .withColumn("contaminated", col("n_sh") > 0 && col("n_overlap") * 5 >= col("n_sh") * 4)
  }

  val contamination = Q(
    "t_contamination",
    (s, d) => contaminationOn(TextOps.fannedDocsOf(s, d), docs(s, d)),
    Some(s"""
      WITH sh0 AS (SELECT doc_id, unnest(${TextOps.oracleShingles}) AS sh FROM documents),
      spl AS (SELECT doc_id, $oSplitCase AS split FROM documents),
      sh AS (SELECT sh0.doc_id, spl.split, sh0.sh FROM sh0 JOIN spl USING (doc_id)),
      train_sh AS (SELECT DISTINCT sh FROM sh WHERE split = 'train'),
      cnt AS (
        SELECT e.doc_id, COUNT(*) AS n_sh, COUNT(t.sh) AS n_overlap
        FROM (SELECT * FROM sh WHERE split <> 'train') e
        LEFT JOIN train_sh t ON e.sh = t.sh
        GROUP BY 1)
      SELECT s.doc_id, s.split,
             CAST(COALESCE(c.n_sh, 0) AS BIGINT) AS n_sh,
             CAST(COALESCE(c.n_overlap, 0) AS BIGINT) AS n_overlap,
             CAST(CASE WHEN COALESCE(c.n_sh, 0) > 0
                       THEN FLOOR(100.0 * c.n_overlap / c.n_sh) ELSE 0 END AS BIGINT) AS overlap_pct,
             (COALESCE(c.n_sh, 0) > 0
              AND COALESCE(c.n_overlap, 0) * 5 >= COALESCE(c.n_sh, 0) * 4) AS contaminated
      FROM spl s LEFT JOIN cnt c USING (doc_id)
      WHERE s.split <> 'train'
    """.stripMargin.trim),
    bench = true, // composed shingle join — track it round-over-round
  )

  private val shardTokens = 2000L

  /** The distributed-prefix-sum core over any (doc_id, n_tokens) frame:
    * (doc_id, n_tokens, cum_before) where cum_before is the global
    * running token total over doc_id order — computed WITHOUT a
    * SinglePartition window (deterministic arithmetic id buckets,
    * O(buckets) offsets collected and broadcast back, bucket-partitioned
    * running-sum window). Shared by the shard packer and the
    * sequence packer, so both verified consumers ride one path.
    */
  private[queries] def prefixSumOn(counted: DataFrame): DataFrame = {
    val s = counted.sparkSession
    import s.implicits._
    val nBuckets = math.max(1, s.sessionState.conf.numShufflePartitions)
    val maxRow = counted.agg(max($"doc_id")).head
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0) // empty table → empty result
    val width = maxId / nBuckets + 1
    val bucketed = counted.withColumn("bkt", expr(s"doc_id DIV $width"))
    // one row per bucket; the collect is O(buckets), not O(rows)
    val offsets = bucketed.groupBy($"bkt").agg(sum($"n_tokens").as("total"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
      .scanLeft((-1L, 0L)) { case ((_, acc), (bkt, tot)) => (bkt, acc + tot) }
      .sliding(2)
      .collect { case Array((_, prev), (bkt, _)) => (bkt, prev) }
      .toSeq
    val offsetDf = offsets.toDF("bkt", "offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"bkt").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    bucketed
      .join(broadcast(offsetDf), "bkt")
      .withColumn("cum_before", $"offset" + coalesce(sum($"n_tokens").over(w), lit(0L)))
      .select($"doc_id", $"n_tokens", $"cum_before")
  }

  /** Token-budget shard assignment over any (doc_id, n_tokens) frame —
    * exposed so the composed curation pipeline reuses the exact same
    * packing path the standalone query verifies.
    */
  private[queries] def shardPackOn(counted: DataFrame): DataFrame =
    prefixSumOn(counted)
      .withColumn("shard_id", expr(s"CAST(cum_before DIV $shardTokens AS BIGINT)"))

  val shardPack = Q(
    "t_shard_pack",
    (s, d) => {
      import s.implicits._
      shardPackOn(docs(s, d)
        .select($"doc_id", size(TextOps.toks).cast("long").as("n_tokens")))
    },
    Some(s"""
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS n_tokens,
             CAST(COALESCE(SUM(len(list_filter(string_split(text, ' '), x -> x != '')))
               OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before,
             CAST(COALESCE(SUM(len(list_filter(string_split(text, ' '), x -> x != '')))
               OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // $shardTokens AS BIGINT) AS shard_id
      FROM documents
    """.stripMargin.trim),
    bench = true, // tracks the distributed-prefix-sum path round-over-round
  )

  // ---------------------------------------------------------------------
  // Composed curation pipeline — the counterpart of `t_clean_corpus` for
  // the assignment half: exact dedup → quality gate → hash split →
  // train-side DECONTAMINATION (drop train docs whose shingle set is
  // ≥ 80% covered by the held-out splits — shipping them would leak the
  // eval into training, the mirror image of t_contamination's eval-side
  // score) → the clean TRAIN partition packed into token-budget shards,
  // as ONE declarative plan. This is "corpus in, training files out":
  // every stage is an operator this pack already verifies standalone;
  // the composition proves they chain without re-materialization tricks
  // (the only driver hand-offs are the shard packer's O(buckets)
  // offsets).
  //
  // 100 TB shape: the dedup hash shuffle, a per-row quality projection,
  // a per-row split projection (pure hash, no shuffle), one distinct on
  // the held-out shingle set + one shingle equi-join + doc-keyed agg
  // (t_contamination's verified shape, roles swapped), a broadcast-able
  // anti-join of the leaky-id set, then the distributed prefix sum — no
  // stage sees more than the survivors, and the prefix sum's window
  // stays bucket-partitioned (blanket-pinned by CatalogPlanGuardSpec
  // like every catalog query). The curated frame feeds BOTH the shingle
  // branch and the packing branch, so it is lazily localCheckpoint'ed
  // once (same two-consumer economics as t_clean_corpus's survivors).
  // ---------------------------------------------------------------------

  /** Train docs of `trainDocs` (doc_id, text) that cover ≥ 80% of SOME
    * held-out document's shingle set — the leak direction a train shard
    * must not ship. Two deliberate asymmetries vs the naive "train doc
    * mostly covered by eval shingles" mirror:
    *
    *   - the threshold is on the EVAL doc's size, so a small eval doc
    *     fully embedded in a large train doc is caught (the train doc's
    *     own coverage would sit near 0% and ship the leak);
    *   - `evalDocs` should be the RAW held-out corpus, not a post-dedup
    *     frame: exact dedup keeps the lowest doc_id, so a train doc
    *     byte-identical to an eval doc usually EATS the eval copy — its
    *     shingles must still count as held-out or the verbatim leak
    *     ships.
    *
    * Plan shape: shared-shingle equi-join (the [[TextOps]] Jaccard
    * bound — only pairs sharing ≥ 1 shingle materialize), per-(train,
    * eval) overlap counts, eval-size join with no broadcast hint. A
    * boilerplate shingle shared corpus-wide inflates the pair set the
    * same way it does for n-gram Jaccard; the remedy is the same —
    * dedup/clean first (the flagship feeds post-dedup train docs).
    */
  /** Per-(train, eval) leak pairs at the ≥ 80% threshold, with the
    * overlap evidence — the report a pipeline audits before shipping.
    */
  private[queries] def trainLeakPairs(trainDocs: DataFrame, evalDocs: DataFrame): DataFrame = {
    // both shingle explodes are fanned out (r21): the eval side arrives
    // as a raw one-row-group scan, so its tokenize+shingle pipeline ran
    // in ONE task; and the eval shingles have two consumers (the overlap
    // join + eSizes), so without the checkpoint the explode ran twice
    val tsh = TextOps.shinglesOfDf(TextOps.fanOutCpu(trainDocs))
      .select(col("doc_id").as("train_id"), col("sh"))
    val esh = TextOps.shinglesOfDf(TextOps.fanOutCpu(evalDocs))
      .select(col("doc_id").as("eval_id"), col("sh"))
      .localCheckpoint(false)
    val eSizes = esh.groupBy(col("eval_id")).agg(count(lit(1)).as("e_sh"))
    tsh.join(esh, "sh")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(eSizes, "eval_id")
      .filter(col("n_overlap") * 5 >= col("e_sh") * 4)
      .select(
        col("train_id"), col("eval_id"), col("n_overlap"), col("e_sh"),
        floor(lit(100.0) * col("n_overlap") / col("e_sh")).cast("long").as("coverage_pct"))
  }

  private[queries] def contaminatedTrainOn(trainDocs: DataFrame, evalDocs: DataFrame): DataFrame =
    trainLeakPairs(trainDocs, evalDocs)
      .select(col("train_id").as("doc_id"))
      .distinct()

  /** Shared oracle chain: dedup survivors → quality gate → shipped-train
    * shingles vs RAW held-out shingles → per-pair overlap (`ov`) +
    * held-out sizes (`esizes`). Used by the flagship and t_train_leaks.
    */
  private def oracleShippedTrainLeakCtes: String = {
    val oToks = TextOps.oracleToks
    val stopPred = TextOps.stopwords.map(w => s"x = '$w'").mkString(" or ")
    s"""${TextOps.oracleSurvivorsCte},
       |      t AS (
       |        SELECT doc_id,
       |               len($oToks) AS n_tokens,
       |               len(list_distinct($oToks)) AS n_distinct,
       |               len(list_filter($oToks, x -> $stopPred)) AS n_stop
       |        FROM survivors),
       |      good AS (
       |        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens FROM t
       |        WHERE CASE WHEN n_tokens >= 20 AND FLOOR(100.0 * n_distinct / n_tokens) >= 25
       |                        AND FLOOR(100.0 * n_stop / n_tokens) <= 40 THEN 'good'
       |                   WHEN n_tokens >= 10 THEN 'fair'
       |                   ELSE 'poor' END <> 'poor'),
       |      tsh AS (
       |        SELECT doc_id AS t_id, unnest(${TextOps.oracleShingles}) AS sh
       |        FROM survivors JOIN good USING (doc_id)
       |        WHERE ($oSplitCase) = 'train'),
       |      esh AS (
       |        SELECT doc_id AS e_id, unnest(${TextOps.oracleShingles}) AS sh
       |        FROM documents WHERE ($oSplitCase) <> 'train'),
       |      esizes AS (SELECT e_id, COUNT(*) AS e_sh FROM esh GROUP BY 1),
       |      ov AS (
       |        SELECT t.t_id, e.e_id, COUNT(*) AS n_overlap
       |        FROM tsh t JOIN esh e ON t.sh = e.sh
       |        GROUP BY 1, 2)""".stripMargin
  }

  /** The leak REPORT as a first-class oracled row: every (shipped train
    * doc, raw held-out doc) pair the flagship's decontamination stage
    * acts on, with the overlap evidence — so the corrected criterion is
    * hash-gated on its own, not only through the flagship's packed
    * output.
    */
  val trainLeaks = Q(
    "t_train_leaks",
    (s, d) => {
      import s.implicits._
      val good = TextOps.withQuality(TextOps.dedupSurvivors(s, d))
        .filter($"quality" =!= "poor")
      trainLeakPairs(
        good.filter(splitOf($"doc_id") === "train").select($"doc_id", $"text"),
        docs(s, d).filter(splitOf($"doc_id") =!= "train").select($"doc_id", $"text"))
    },
    Some(s"""
      WITH $oracleShippedTrainLeakCtes
      SELECT ov.t_id AS train_id, ov.e_id AS eval_id,
             CAST(ov.n_overlap AS BIGINT) AS n_overlap,
             CAST(esizes.e_sh AS BIGINT) AS e_sh,
             CAST(FLOOR(100.0 * ov.n_overlap / esizes.e_sh) AS BIGINT) AS coverage_pct
      FROM ov JOIN esizes USING (e_id)
      WHERE ov.n_overlap * 5 >= esizes.e_sh * 4
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Curation funnel observability — the drop-count audit every silent
  // multi-stage filter owes its operator (the text-pipeline sibling of
  // e_degree_cap_audit and v_index_balance): one row per pipeline
  // stage of the t_curate_corpus flagship with the surviving doc count,
  // so a day-over-day diff localizes WHERE the corpus shrank (dedup?
  // quality? decontamination?) before anyone debugs the packed output.
  // Five independent global aggregates over the same lazily-shared
  // stage frames the flagship composes — counts only, no extra
  // corpus-sized shuffle beyond what the stages themselves run.
  // ---------------------------------------------------------------------
  val curateFunnel = Q(
    "t_curate_funnel",
    (s, d) => {
      import s.implicits._
      val raw = docs(s, d)
      val surv = TextOps.dedupSurvivors(s, d)
      val good = TextOps.withQuality(surv).filter($"quality" =!= "poor")
        .localCheckpoint(false) // three consumers below
      val train = good.filter(splitOf($"doc_id") === "train")
        .select($"doc_id", $"text")
      val leaky = contaminatedTrainOn(
          train,
          docs(s, d).filter(splitOf($"doc_id") =!= "train").select($"doc_id", $"text"))
        .withColumnRenamed("doc_id", "leak_id")
      val shipped = train.join(leaky, $"doc_id" === $"leak_id", "left_anti")
      def stage(ord: Long, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(ord).as("stage_ord"), lit(name).as("stage"), $"n_docs")
      stage(1L, "raw", raw)
        .unionByName(stage(2L, "post_dedup", surv))
        .unionByName(stage(3L, "quality_pass", good))
        .unionByName(stage(4L, "train_split", train))
        .unionByName(stage(5L, "decontaminated", shipped))
    },
    Some(s"""
      WITH $oracleCuratedTrainCtes
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
               CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
        UNION ALL SELECT 2, 'post_dedup', (SELECT COUNT(*) FROM survivors)
        UNION ALL SELECT 3, 'quality_pass', (SELECT COUNT(*) FROM good)
        UNION ALL SELECT 4, 'train_split',
          (SELECT COUNT(*) FROM good WHERE ($oSplitCase) = 'train')
        UNION ALL SELECT 5, 'decontaminated', (SELECT COUNT(*) FROM train))
    """.stripMargin.trim),
  )

  /** The curated train frame (doc_id, n_tokens) the flagship packers
    * consume: dedup survivors → quality gate → train split →
    * decontamination anti-join, localCheckpoint'ed once because every
    * packer scans its input twice (offsets + output) and the shingle
    * join must not execute per pass (measured 3.0 s → 1.5 s at sf0.1).
    */
  private def curatedTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val good = TextOps.withQuality(TextOps.dedupSurvivors(s, d))
      .filter($"quality" =!= "poor")
      .localCheckpoint(false) // two consumers: shingle branch + packing
    // train side = what we ship (post-dedup, quality-passed train docs);
    // eval side = the RAW held-out corpus (see contaminatedTrainOn for
    // why it must not be the deduped frame)
    val leaky = contaminatedTrainOn(
        good.filter(splitOf($"doc_id") === "train").select($"doc_id", $"text"),
        docs(s, d).filter(splitOf($"doc_id") =!= "train").select($"doc_id", $"text"))
      .withColumnRenamed("doc_id", "leak_id")
    good.filter(splitOf($"doc_id") === "train")
      .join(leaky, $"doc_id" === $"leak_id", "left_anti")
      .select($"doc_id", $"n_tokens")
      .localCheckpoint(false)
  }

  /** DuckDB `train` CTE chain mirroring [[curatedTrain]]. */
  private def oracleCuratedTrainCtes: String =
    s"""$oracleShippedTrainLeakCtes,
      |      leaky AS (
      |        SELECT DISTINCT ov.t_id AS doc_id
      |        FROM ov JOIN esizes USING (e_id)
      |        WHERE ov.n_overlap * 5 >= esizes.e_sh * 4),
      |      train AS (
      |        SELECT doc_id, n_tokens FROM good
      |        WHERE ($oSplitCase) = 'train'
      |          AND doc_id NOT IN (SELECT doc_id FROM leaky))""".stripMargin

  private val oraclePrefixOverTrain =
    s"""COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)""".stripMargin

  val curateCorpus = Q(
    "t_curate_corpus",
    (s, d) => shardPackOn(curatedTrain(s, d)),
    Some(s"""
      WITH $oracleCuratedTrainCtes
      SELECT doc_id, n_tokens,
             CAST($oraclePrefixOverTrain AS BIGINT) AS cum_before,
             CAST($oraclePrefixOverTrain // $shardTokens AS BIGINT) AS shard_id
      FROM train
    """.stripMargin.trim),
    bench = true, // the composed flagship, like t_clean_corpus
  )

  // ---------------------------------------------------------------------
  // Fixed-length sequence packing — the GPT-style concat-and-chunk step
  // that turns a curated corpus into training sequences: all documents
  // are laid end-to-end in doc_id order and the token stream is cut at
  // fixed context-length boundaries (seqLen tokens). A document spanning
  // a boundary is SPLIT: it emits one (doc_id, seq_id) segment per
  // overlapped sequence with the in-doc token offset and length, which
  // is exactly what a loader needs to materialize sequence seq_id
  // without ever seeing the global order. Complements t_shard_pack
  // (whole-doc token-budget shards): shards never split docs, sequences
  // always fill to exactly seqLen (except the tail).
  //
  // 100 TB shape: the same distributed prefix sum as t_shard_pack
  // (O(buckets) driver hand-off, bucket-partitioned window — never a
  // SinglePartition sort), then a per-row explode of the overlapped
  // sequence ids: a doc of n tokens emits n/seqLen + 1 segments, so the
  // output is (corpus tokens)/seqLen + (doc count) rows — linear, and
  // every segment is derived by pure integer arithmetic on (cum_before,
  // n_tokens) with no further shuffle.
  // ---------------------------------------------------------------------

  private val seqLen = 512L

  /** Segment layout over any (doc_id, n_tokens) frame — exposed so the
    * property spec can drive planted layouts through the real plan.
    */
  private[queries] def seqPackOn(counted: DataFrame): DataFrame = {
    val s = counted.sparkSession
    import s.implicits._
    prefixSumOn(counted)
      .filter($"n_tokens" > 0L) // empty docs own no token span
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_before DIV $seqLen"),
        expr(s"(cum_before + n_tokens - 1) DIV $seqLen"))))
      .select(
        $"doc_id", $"seq_id",
        greatest($"seq_id" * seqLen - $"cum_before", lit(0L)).as("seg_start"),
        (least(($"seq_id" + 1) * seqLen, $"cum_before" + $"n_tokens")
          - greatest($"seq_id" * seqLen, $"cum_before")).as("seg_len"))
  }

  val seqPack = Q(
    "t_seq_pack",
    (s, d) => {
      import s.implicits._
      seqPackOn(docs(s, d)
        .select($"doc_id", size(TextOps.toks).cast("long").as("n_tokens")))
    },
    Some(s"""
      WITH counted AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
        FROM documents),
      pre AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM counted),
      seg AS (
        SELECT doc_id, n_tokens, cum_before,
               unnest(range(cum_before // $seqLen, (cum_before + n_tokens - 1) // $seqLen + 1)) AS seq_id
        FROM pre WHERE n_tokens > 0)
      SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
             CAST(GREATEST(seq_id * $seqLen - cum_before, 0) AS BIGINT) AS seg_start,
             CAST(LEAST((seq_id + 1) * $seqLen, cum_before + n_tokens)
               - GREATEST(seq_id * $seqLen, cum_before) AS BIGINT) AS seg_len
      FROM seg
    """.stripMargin.trim),
    bench = true, // tracks the prefix-sum + segment-explode path
  )

  // ---------------------------------------------------------------------
  // The flagship's sequence-grain sibling: the same curated train frame
  // (dedup → quality → split → decontaminate), packed into fixed-length
  // training SEQUENCES instead of whole-doc shards — "corpus in,
  // trainer-ready segment layout out" as one declarative plan. Identical
  // scale shape to t_curate_corpus with the segment explode grafted on.
  // ---------------------------------------------------------------------

  val curateSequences = Q(
    "t_curate_sequences",
    (s, d) => seqPackOn(curatedTrain(s, d)),
    Some(s"""
      WITH $oracleCuratedTrainCtes,
      pre AS (
        SELECT doc_id, n_tokens,
               CAST($oraclePrefixOverTrain AS BIGINT) AS cum_before
        FROM train),
      seg AS (
        SELECT doc_id, n_tokens, cum_before,
               unnest(range(cum_before // $seqLen, (cum_before + n_tokens - 1) // $seqLen + 1)) AS seq_id
        FROM pre WHERE n_tokens > 0)
      SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
             CAST(GREATEST(seq_id * $seqLen - cum_before, 0) AS BIGINT) AS seg_start,
             CAST(LEAST((seq_id + 1) * $seqLen, cum_before + n_tokens)
               - GREATEST(seq_id * $seqLen, cum_before) AS BIGINT) AS seg_len
      FROM seg
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Shard writer — the sink step of the curation pipeline: materialize a
  // packed corpus as one parquet directory per shard
  // (`shard_id=<n>/part-*.parquet`), which is exactly the layout a
  // training loader consumes (list the shard dirs, read them in id
  // order) and what the cluster's writers produce without any
  // driver-side file juggling: `partitionBy` routes rows to their shard
  // directory, and the pre-`repartition` on the partition column means
  // each shard is written by ONE task as ONE file — no small-file spray
  // (the default would write up to `shuffle.partitions` fragments per
  // shard), no global sort, no SinglePartition funnel. Docs stay
  // id-ordered WITHIN a shard file via sortWithinPartitions, which a
  // sequential reader of the shard observes.
  // ---------------------------------------------------------------------

  /** Write any frame carrying a `shard_id` column as one directory per
    * shard. Returns the written row count (an action — the write runs).
    */
  def writeShards(packed: DataFrame, path: String): Long = {
    val s = packed.sparkSession
    import s.implicits._
    packed
      .repartition($"shard_id")
      .sortWithinPartitions($"shard_id", $"doc_id")
      .write
      .mode("overwrite")
      .partitionBy("shard_id")
      .parquet(path)
    s.read.parquet(path).count()
  }

  // ---------------------------------------------------------------------
  // Temperature-flattened mixture (α = 1/2) — the multilingual/domain
  // rebalancing rule (sample ∝ T_s^α, α < 1): big domains are
  // down-weighted, small ones surfaced, without hand-written weights.
  // Derivation is data-driven — w_s = floor(sqrt(T_s)) — then the
  // binding-source budget and salted-hash admission are EXACTLY
  // [[domainMixOn]]: one extra tiny per-source agg (O(|sources|) rows
  // collected) computes the weights, and the whitelist is "every source
  // with at least one token". sqrt runs in IEEE double (correctly
  // rounded, so both engines agree bit-for-bit) and everything after is
  // the same exact integer math as t_domain_mix.
  // ---------------------------------------------------------------------

  private[queries] def temperatureMixOn(docsDf: DataFrame): DataFrame = {
    val totals = docsDf
      .select(col("source"), size(TextOps.toks).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("toks"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .filter(_._2 > 0L)
      .sortBy(_._1)
    val weights = totals.toSeq.map { case (s0, t) =>
      s0 -> math.floor(math.sqrt(t.toDouble)).toLong
    }
    // the totals already aggregated above feed the budget math directly
    // — one corpus tokenization per invocation, not two
    domainMixOn(docsDf, weights, Some(totals.toMap))
  }

  val temperatureMix = Q(
    "t_temperature_mix",
    (s, d) => temperatureMixOn(docs(s, d)),
    Some {
      val salted = oMd5Bucket("CAST(d.doc_id AS VARCHAR) || ':mix'", mixDenom.toInt)
      s"""
      WITH obs AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT) AS toks
        FROM documents GROUP BY 1),
      wts AS (
        SELECT source, CAST(FLOOR(SQRT(CAST(toks AS DOUBLE))) AS BIGINT) AS w, toks
        FROM obs WHERE toks > 0),
      wsum AS (SELECT CAST(SUM(w) AS BIGINT) AS ws FROM wts),
      budget AS (
        SELECT MIN(CAST(t.toks AS HUGEINT) * s.ws // t.w) AS b
        FROM wts t CROSS JOIN wsum s),
      rates AS (
        SELECT t.source,
               CAST(($mixDenom::HUGEINT * (CAST(t.w AS HUGEINT) * b.b // s.ws))
                    // t.toks AS BIGINT) AS rate_ppm
        FROM wts t CROSS JOIN budget b CROSS JOIN wsum s)
      SELECT d.doc_id, d.source, r.rate_ppm, $salted AS bucket
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE $salted < r.rate_ppm
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Privacy release audits — the governance half of the erasure story
  // (queries/Erasure.scala): before a curated corpus ships, the release
  // must not re-identify individuals through quasi-identifier (QI)
  // combinations. Two standard audits (k-anonymity, l-diversity) plus
  // the enforcement operator (a cascading generalization ladder).
  //
  // QI for documents: (lang, source, length bucket) — the metadata a
  // release exposes even after the text is scrubbed. QI for events:
  // (event_type, day, value bucket) with user_id as the SENSITIVE
  // attribute.
  //
  // 100 TB shape: all three are a single corpus-wide shuffle keyed by
  // the QI tuple — partial aggregation collapses each partition to at
  // most |QI| rows before the exchange (a few hundred here; bounded by
  // the attribute-domain product, never by corpus size), and the
  // suppression ladder's residual re-aggregations run on those
  // group-grain frames, so everything after the first shuffle is
  // metadata-sized. l-diversity computes its exact distinct-user count
  // as a two-stage groupBy ((QI, user) then QI) — the partial-agg-
  // friendly form, never a count_distinct Expand over raw events.
  // ---------------------------------------------------------------------

  private val kAnonK = 10L
  private val lDivL = 5L

  /** QI groups too small to release: every (lang, source, n_chars/100)
    * combination with fewer than k members — each is a re-identification
    * risk (an attacker who knows a document's metadata narrows it to
    * < k candidates).
    */
  val kAnonymity = Q(
    "t_k_anonymity",
    (s, d) => {
      import s.implicits._
      docs(s, d)
        .groupBy($"lang", $"source", expr("n_chars div 100").as("len_b"))
        .agg(count(lit(1)).as("grp_n"))
        .filter($"grp_n" < kAnonK)
    },
    Some(s"""
      SELECT lang, source, n_chars // 100 AS len_b,
             CAST(count(*) AS BIGINT) AS grp_n
      FROM documents GROUP BY 1, 2, 3 HAVING count(*) < $kAnonK
    """.stripMargin.trim),
  )

  /** The k-anonymization ladder over any (lang, source, n_chars) frame,
    * at the released-group grain — exposed for the planted-corpus spec.
    *
    * Bottom-up cascading generalization with RESIDUAL accounting: a
    * level releases a group only when the rows actually promoted to it
    * (not the full-population count at that key — those already released
    * at a finer level are gone) still number >= k, so every released
    * equivalence class genuinely satisfies k-anonymity:
    *
    *   level 0: (lang, source, len_b) groups with n >= k ship as-is;
    *   level 1: the violating remainder re-groups at (lang, source);
    *   level 2: what still violates re-groups at (lang);
    *   level 3: anything left is suppressed outright (one '*' row).
    */
  private[queries] def kSuppressOn(docsDf: DataFrame, k: Long): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val g0 = docsDf
      .groupBy($"lang", $"source", expr("n_chars div 100").as("len_b"))
      .agg(count(lit(1)).as("n"))
    val l0 = g0.filter($"n" >= k).select(lit(0L).as("gen_level"),
      $"lang".as("lang_r"), $"source".as("source_r"), $"len_b".as("len_b_r"), $"n")
    val r1 = g0.filter($"n" < k).groupBy($"lang", $"source").agg(sum($"n").as("n"))
    val l1 = r1.filter($"n" >= k).select(lit(1L).as("gen_level"),
      $"lang".as("lang_r"), $"source".as("source_r"), lit(-1L).as("len_b_r"), $"n")
    val r2 = r1.filter($"n" < k).groupBy($"lang").agg(sum($"n").as("n"))
    val l2 = r2.filter($"n" >= k).select(lit(2L).as("gen_level"),
      $"lang".as("lang_r"), lit("*").as("source_r"), lit(-1L).as("len_b_r"), $"n")
    // grouping the residual by a constant yields NO row when it is empty
    // (both engines agree), so the suppression row appears only when
    // something was actually suppressed
    val l3 = r2.filter($"n" < k).groupBy(lit(3L).as("gen_level"))
      .agg(sum($"n").as("n"))
      .select($"gen_level", lit("*").as("lang_r"), lit("*").as("source_r"),
        lit(-1L).as("len_b_r"), $"n")
    l0.unionByName(l1).unionByName(l2).unionByName(l3)
  }

  val kSuppress = Q(
    "t_k_suppress",
    (s, d) => kSuppressOn(docs(s, d), kAnonK),
    Some(s"""
      WITH g0 AS (
        SELECT lang, source, n_chars // 100 AS len_b,
               CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2, 3),
      r1 AS (
        SELECT lang, source, CAST(sum(n) AS BIGINT) AS n
        FROM g0 WHERE n < $kAnonK GROUP BY 1, 2),
      r2 AS (
        SELECT lang, CAST(sum(n) AS BIGINT) AS n
        FROM r1 WHERE n < $kAnonK GROUP BY 1)
      SELECT CAST(0 AS BIGINT) AS gen_level, lang AS lang_r,
             source AS source_r, len_b AS len_b_r, n
      FROM g0 WHERE n >= $kAnonK
      UNION ALL
      SELECT CAST(1 AS BIGINT), lang, source, CAST(-1 AS BIGINT), n
      FROM r1 WHERE n >= $kAnonK
      UNION ALL
      SELECT CAST(2 AS BIGINT), lang, '*', CAST(-1 AS BIGINT), n
      FROM r2 WHERE n >= $kAnonK
      UNION ALL
      SELECT CAST(3 AS BIGINT), '*', '*', CAST(-1 AS BIGINT),
             CAST(sum(n) AS BIGINT)
      FROM r2 WHERE n < $kAnonK GROUP BY 1
    """.stripMargin.trim),
    bench = true,
  )

  /** l-diversity audit over the events release: QI groups whose distinct
    * SENSITIVE-attribute (user_id) count is below l — a k-anonymous
    * group of 50 rows all belonging to 2 users still leaks (the
    * homogeneity attack k-anonymity alone misses).
    */
  val lDiversity = Q(
    "t_l_diversity",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type", expr("ts_sec div 86400").as("day"),
          floor($"value" / lit(50.0)).cast("long").as("val_b"), $"user_id")
        .groupBy($"event_type", $"day", $"val_b", $"user_id")
        .agg(count(lit(1)).as("nu"))
        .groupBy($"event_type", $"day", $"val_b")
        .agg(sum($"nu").as("n_rows"), count(lit(1)).as("n_users"))
        .filter($"n_users" < lDivL)
    },
    Some(s"""
      WITH qi AS (
        SELECT event_type, (epoch_ms(ts)//1000)//86400 AS day,
               CAST(floor(value/50) AS BIGINT) AS val_b, user_id,
               count(*) AS nu
        FROM events GROUP BY 1, 2, 3, 4)
      SELECT event_type, day, val_b,
             CAST(sum(nu) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_users
      FROM qi GROUP BY 1, 2, 3 HAVING count(*) < $lDivL
    """.stripMargin.trim),
    bench = true,
  )

  /** End-to-end erasure certificate, hash-gated: deploy five
    * row-traceable indexes (postings, LSH, IVF-PQ, BQ, SQ8), erase
    * three docs through the Erasure orchestrator, then certify absence
    * for them PLUS three untouched controls. The oracle computes each
    * control's expected live-row counts from first principles (distinct
    * terms for postings; 4 bands when the doc has >= 3 tokens for LSH;
    * one row per PQ subspace; one packed BQ row; one SQ8 codes row)
    * and 0 for the erased — so a certificate that under-scans (misses
    * live rows) or a forget path that leaks rows both hash-mismatch.
    */
  /** The certificate row's deployed fleet: five row-traceable indexes
    * built and erased ONCE per (JVM, corpus) — a deployment erases
    * once and certifies as often as audits demand; rebuilding four
    * indexes per catalog invocation was the two slowest rows in the
    * full sweep (~12 s each at sf0.1). The full build+forget lifecycle
    * still runs end to end in every fresh session (Verify, each
    * replica-sweep shell, each bench JVM); the mutations are
    * deterministic, so repeat invocations certify the identical state.
    */
  private val certFleetCache =
    new java.util.concurrent.ConcurrentHashMap[String, Erasure.DocTargets]()

  private def certFleet(s: SparkSession, d: String): Erasure.DocTargets =
    certFleetCache.computeIfAbsent(d, _ => {
      import s.implicits._
      graft.functions.GraftFunctions.registerDotD(s)
      val emb = Tables.embeddings(s, d)
      val targets = Erasure.DocTargets(
        postings = Some(graft.sources.Scratch.dir("graft-cert-post")),
        lsh = Some(graft.sources.Scratch.dir("graft-cert-lsh")),
        ivfPq = Some(graft.sources.Scratch.dir("graft-cert-ivfpq")),
        bq = Some(graft.sources.Scratch.dir("graft-cert-bq")),
        sq8 = Some(graft.sources.Scratch.dir("graft-cert-sq8")))
      buildConcurrently(
        "postings" -> (() => SearchOps.writePostingsIndex(docs(s, d), targets.postings.get)),
        "lsh" -> (() => TextOps.writeLshIndex(docs(s, d), targets.lsh.get)),
        "ivfpq" -> (() => VectorOps.writeIvfPqIndex(emb, targets.ivfPq.get)),
        "bq" -> (() => VectorOps.writeBqIndex(emb, targets.bq.get)),
        "sq8" -> (() => VectorOps.writeSq8Index(emb, targets.sq8.get)))
      Erasure.forgetDocs(Seq(4L, 14L, 24L).toDF("doc_id"), targets)
      targets
    })

  val erasureCert = Q(
    "t_erasure_cert",
    (s, d) => {
      import s.implicits._
      Erasure.certificate(s, certFleet(s, d),
        Seq(4L, 14L, 24L, 5L, 15L, 25L).toDF("doc_id"))
    },
    Some(s"""
      WITH ids(doc_id, gone) AS (VALUES (4, 1), (14, 1), (24, 1),
                                        (5, 0), (15, 0), (25, 0)),
      tokd AS (
        SELECT doc_id,
               CAST(len(list_distinct(${TextOps.oracleToks})) AS BIGINT) AS nt,
               CAST(len(${TextOps.oracleToks}) AS BIGINT) AS ntok
        FROM documents),
      fam(family) AS (VALUES ('postings'), ('lsh'), ('ivfpq'), ('bq'), ('sq8'))
      SELECT CAST(i.doc_id AS BIGINT) AS doc_id, f.family,
             CAST(CASE WHEN i.gone = 1 THEN 0
                  WHEN f.family = 'postings' THEN t.nt
                  WHEN f.family = 'lsh' THEN
                    CASE WHEN t.ntok >= 3 THEN 4 ELSE 0 END
                  WHEN f.family = 'ivfpq' THEN 4
                  ELSE 1 END AS BIGINT) AS live_refs
      FROM ids i CROSS JOIN fam f JOIN tokd t ON t.doc_id = i.doc_id
    """.stripMargin.trim),
  )

  /** The USER-grain certificate fleet: the two row-traceable user
    * families (co-occurrence `ui` rows, the zone-mapped event table),
    * deployed and erased once per (JVM, corpus) — same caching
    * rationale as [[certFleet]]. Users 4/9/14 are erased through the
    * Erasure orchestrator (the same fan-out a real request takes);
    * 5/10/12 stay as non-erased controls.
    */
  private val certUserFleetCache =
    new java.util.concurrent.ConcurrentHashMap[String, Erasure.UserTargets]()

  private def certUserFleet(s: SparkSession, d: String): Erasure.UserTargets =
    certUserFleetCache.computeIfAbsent(d, _ => {
      import s.implicits._
      val evs = Tables.events(s, d)
        .withColumn("item", regexp_extract($"props", "(\\d+)", 1).cast("long"))
      val targets = Erasure.UserTargets(
        cooccur = Some(graft.sources.Scratch.dir("graft-certu-cooccur")),
        table = Some(graft.sources.Scratch.dir("graft-certu-table")))
      buildConcurrently(
        "cooccur" -> (() => GraphOps.writeCooccurIndex(evs, targets.cooccur.get)),
        "table" -> (() =>
          LayoutOps.writeEventTable(Tables.events(s, d), targets.table.get, nFiles = 8)))
      Erasure.forgetUsers(Seq(4L, 9L, 14L).toDF("user_id"), targets)
      targets
    })

  /** User-grain proof of absence, hash-gated: the oracle derives each
    * CONTROL user's expected live counts from first principles (their
    * distinct co-occurrence items; their raw event-row count) and 0
    * for the erased, so an under-scanning certificate and a leaking
    * forget path both hash-mismatch — the doc-grain row's discipline
    * at the grain deletion requests actually arrive at.
    */
  val erasureCertUsers = Q(
    "t_erasure_cert_users",
    (s, d) => {
      import s.implicits._
      Erasure.certificateUsers(s, certUserFleet(s, d),
        Seq(4L, 9L, 14L, 5L, 10L, 12L).toDF("user_id"))
    },
    Some("""
      WITH ids(user_id, gone) AS (VALUES (4, 1), (9, 1), (14, 1),
                                         (5, 0), (10, 0), (12, 0)),
      ui AS (
        SELECT DISTINCT user_id,
               TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS item
        FROM events
        WHERE TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) IS NOT NULL),
      uic AS (SELECT user_id, count(*) AS n FROM ui GROUP BY 1),
      evc AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      fam(family) AS (VALUES ('cooccur'), ('table'))
      SELECT CAST(i.user_id AS BIGINT) AS user_id, f.family,
             CAST(CASE WHEN i.gone = 1 THEN 0
                  WHEN f.family = 'cooccur' THEN coalesce(u.n, 0)
                  ELSE coalesce(e.n, 0) END AS BIGINT) AS live_refs
      FROM ids i CROSS JOIN fam f
      LEFT JOIN uic u ON u.user_id = i.user_id
      LEFT JOIN evc e ON e.user_id = i.user_id
    """.stripMargin.trim),
  )

  /** "SHOW INDEXES" end to end, hash-gated: drive five index families
    * through DIFFERENT lifecycle states (day-3 postings: build + append
    * + forget; day-1 LSH: fresh build; compacted IVF-PQ: rebased
    * window; tombstoned BQ; appended SQ8 — its trained stats stay at
    * the floor while the ceiling advances; plus a deliberately
    * uncommitted root) and
    * assert the introspection surface reports exactly the manifest
    * state machine's expected (family, version, epoch, floor,
    * components) — a literal-VALUES oracle, since every field is a
    * deterministic consequence of the protocol.
    */
  /** The introspection row's fleet — five families driven into their
    * lifecycle states once per (JVM, corpus), same convention and
    * rationale as [[certFleet]]; `describe` itself is metadata-only
    * (manifests + a directory listing).
    */
  private val icatFleetCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def icatFleet(s: SparkSession, d: String): Seq[(String, String)] =
    icatFleetCache.computeIfAbsent(d, _ => {
      import s.implicits._
      import graft.sources.Scratch
      graft.functions.GraftFunctions.registerDotD(s)
      val emb = Tables.embeddings(s, d)
      val p = Scratch.dir("graft-icat-post")
      val l = Scratch.dir("graft-icat-lsh")
      val v = Scratch.dir("graft-icat-ivfpq")
      val b = Scratch.dir("graft-icat-bq")
      val q8 = Scratch.dir("graft-icat-sq8")
      buildConcurrently(
        "postings_day3" -> { () =>
          SearchOps.writePostingsIndex(docs(s, d).filter($"doc_id" % 10 =!= 3), p)
          SearchOps.appendPostingsIndex(docs(s, d).filter($"doc_id" % 10 === 3), p)
          SearchOps.deleteFromPostingsIndex(Seq(1L).toDF("doc_id"), p)
        },
        "lsh_day1" -> (() => TextOps.writeLshIndex(docs(s, d), l)),
        "ivfpq_compacted" -> { () =>
          VectorOps.writeIvfPqIndex(emb, v)
          VectorOps.compactIvfPqIndex(s, v)
        },
        "bq_tombstoned" -> { () =>
          VectorOps.writeBqIndex(emb, b)
          VectorOps.deleteFromBqIndex(Seq(0L).toDF("vec_id"), b)
        },
        "sq8_appended" -> { () =>
          VectorOps.writeSq8Index(emb.filter($"vec_id" % 2 === 0), q8)
          VectorOps.appendSq8Index(emb.filter($"vec_id" % 2 === 1), q8)
        })
      Seq("postings_day3" -> p, "lsh_day1" -> l, "ivfpq_compacted" -> v,
        "bq_tombstoned" -> b, "sq8_appended" -> q8,
        "crashed_build" -> Scratch.dir("graft-icat-none"))
    })

  val indexCatalog = Q(
    "t_index_catalog",
    (s, d) => graft.sources.IndexManifest.describe(s, icatFleet(s, d)),
    Some("""
      SELECT * FROM (VALUES
        ('postings_day3', 'postings', CAST(2 AS BIGINT), CAST(2 AS BIGINT),
         CAST(0 AS BIGINT), 'corpus,dels,postings,terms'),
        ('lsh_day1', 'lsh', 2, 0, 0, 'bands,bucket_counts,dels'),
        ('ivfpq_compacted', 'ivfpq', 3, 1, 1, 'centroids,codes,codewords,dels'),
        ('bq_tombstoned', 'bq', 2, 1, 0, 'dels,words'),
        ('sq8_appended', 'sq8', 2, 1, 0, 'codes,dels,stats'),
        ('crashed_build', '_uncommitted', -1, -1, -1, '')
      ) AS t(name, family, format_version, epoch, base_epoch, components)
    """.stripMargin.trim),
  )

  /** The advisor row's fleet — five roots DRIVEN to straddle the
    * policy rules (heavy tombstones; a long append window; a healthy
    * build; compacted-but-unvacuumed; a crashed build), once per
    * (JVM, corpus) — the
    * [[icatFleet]] convention. Counts are corpus-size-independent by
    * construction (vec_id < K slices and single-vector appends), so
    * the oracle is literal VALUES at any SF.
    */
  private val advFleetCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def advFleet(s: SparkSession, d: String): Seq[(String, String)] =
    advFleetCache.computeIfAbsent(d, _ => {
      import s.implicits._
      import graft.sources.Scratch
      graft.functions.GraftFunctions.registerDotD(s)
      val emb = Tables.embeddings(s, d)
      val hd = Scratch.dir("graft-adv-dels")
      val lw = Scratch.dir("graft-adv-window")
      val ok = Scratch.dir("graft-adv-ok")
      val vac = Scratch.dir("graft-adv-vac")
      buildConcurrently(
        // 30% tombstoned: the dels rule (20% default) must fire
        "adv_heavy_dels" -> { () =>
          VectorOps.writeBqIndex(emb.filter($"vec_id" < 100), hd)
          VectorOps.deleteFromBqIndex(
            emb.filter($"vec_id" < 30).select($"vec_id"), hd)
        },
        // 8 single-vector appends: the window rule (8 epochs) must fire
        // with zero deletes
        "adv_long_window" -> { () =>
          VectorOps.writeSq8Index(emb.filter($"vec_id" < 50), lw)
          (0L until 8L).foreach { i =>
            VectorOps.appendSq8Index(
              emb.filter($"vec_id" === i)
                .select(($"vec_id" + 1000L + i).as("vec_id"), $"embedding"), lw)
          }
        },
        // healthy: fresh build, nothing to advise
        "adv_healthy" -> (() => VectorOps.writeBqIndex(emb.filter($"vec_id" < 100), ok)),
        // compacted but never vacuumed: the superseded epochs below the
        // raised floor are reclaimable garbage -> the vacuum rule
        "adv_vacuum" -> { () =>
          VectorOps.writeBqIndex(emb.filter($"vec_id" < 40), vac)
          VectorOps.deleteFromBqIndex(
            emb.filter($"vec_id" === 0).select($"vec_id"), vac)
          VectorOps.compactBqIndex(s, vac)
        })
      Seq("adv_heavy_dels" -> hd, "adv_long_window" -> lw,
        "adv_healthy" -> ok, "adv_vacuum" -> vac,
        "adv_crashed" -> Scratch.dir("graft-adv-none"))
    })

  /** The "when do I compact" policy surface, oracle-gated over a fleet
    * driven into known states: every verdict field is a deterministic
    * consequence of the thresholds and the manifest protocol, so the
    * oracle is literal VALUES — a drifted count, a mis-fired rule, or
    * a rule firing on the wrong family hash-mismatches.
    */
  val indexAdvisor = Q(
    "t_index_advisor",
    (s, d) => graft.sources.IndexMaintenance.advise(s, advFleet(s, d)),
    Some("""
      SELECT * FROM (VALUES
        ('adv_heavy_dels', 'bq', CAST(1 AS BIGINT), CAST(100 AS BIGINT),
         CAST(30 AS BIGINT), 'compact', 'dels', '', CAST(-1 AS BIGINT)),
        ('adv_long_window', 'sq8', 8, 58, 0, 'compact', 'window', '', -1),
        ('adv_healthy', 'bq', 0, 100, 0, 'ok', '', '', -1),
        ('adv_vacuum', 'bq', 0, 39, 0, 'vacuum', 'stale_epochs', '', -1),
        ('adv_crashed', '_uncommitted', -1, 0, 0, 'rebuild', 'no_manifest', '', -1)
      ) AS t(name, family, window_len, total_rows, del_rows, action, reason,
             pin_owner, pin_age_ms)
    """.stripMargin.trim),
  )

  /** The pin-ledger lifecycle, oracle-gated as a DRILL (the
    * e_table_forget / v_cascade_coverage convention — the row builds
    * its own fleet per invocation and reports deterministic
    * consequences of the protocol, so the oracle is literal VALUES):
    *
    *   1. build a BQ index (epoch 0: 40 vectors), tombstone one vector
    *      (epoch 1), REGISTER a pin at epoch 1, then compact (head 2,
    *      floor 2 — epochs 0/1 become superseded garbage);
    *   2. `pinned` phase: the advisor must say `vacuum_blocked_by_pin`
    *      instead of advising destruction, a vacuum attempt must remove
    *      ZERO directories, and the as-of read at the pinned epoch must
    *      still resolve (39 rows = 40 minus the tombstone) — the
    *      standing serve survives the janitor;
    *   3. `released` phase: after releasePin the advisor flips to
    *      `vacuum`/`stale_epochs`, vacuum reclaims exactly the three
    *      superseded directories (words/0, dels/0, dels/1), and the
    *      as-of read now refuses (-1) — the pin was the only thing
    *      keeping the epoch replayable.
    */
  val vacuumPin = Q(
    "t_vacuum_pin",
    (s, d) => {
      import s.implicits._
      import graft.sources.{IndexMaintenance, IndexManifest}
      val emb = Tables.embeddings(s, d)
      val dir = graft.sources.Scratch.dir("graft-pin-bq")
      VectorOps.writeBqIndex(emb.filter($"vec_id" < 40), dir)
      VectorOps.deleteFromBqIndex(
        emb.filter($"vec_id" === 0).select($"vec_id"), dir)
      IndexManifest.registerPin(dir, "audit-run", 1L, IndexManifest.Bq)
      VectorOps.compactBqIndex(s, dir)
      def reason(): String = IndexMaintenance.advise(s, Seq("pin" -> dir))
        .select("reason").first().getString(0)
      val reasonPinned = reason()
      val removedPinned = IndexManifest.vacuum(dir, IndexManifest.Bq)
      val pinnedRows = StoredIndex.Bq.resolved(s, dir, asOf = Some(1L)).count()
      IndexManifest.releasePin(dir, "audit-run")
      val reasonReleased = reason()
      val removedReleased = IndexManifest.vacuum(dir, IndexManifest.Bq)
      val asOfReleased =
        try StoredIndex.Bq.resolved(s, dir, asOf = Some(1L)).count()
        catch { case _: IllegalArgumentException => -1L }
      Seq(
        ("pinned", reasonPinned, removedPinned, pinnedRows),
        ("released", reasonReleased, removedReleased, asOfReleased))
        .toDF("phase", "advise_reason", "vacuumed_dirs", "asof_rows")
    },
    Some("""
      SELECT * FROM (VALUES
        ('pinned', 'vacuum_blocked_by_pin', CAST(0 AS BIGINT), CAST(39 AS BIGINT)),
        ('released', 'stale_epochs', CAST(3 AS BIGINT), CAST(-1 AS BIGINT))
      ) AS t(phase, advise_reason, vacuumed_dirs, asof_rows)
    """.stripMargin.trim),
  )

  /** The fsck row's fleet — seven roots, each DAMAGED (or not) in
    * exactly one way something outside the protocol can damage it,
    * once per (JVM, corpus) — the [[icatFleet]] convention. Every
    * planted fault is what a real fleet accrues: a crashed append's
    * orphan stage (an uncommitted `epoch=7` directory), a writer that
    * died between tmp-write and rename (a stranded manifest tmp), a
    * compaction whose janitor half never ran (reclaimable superseded
    * dirs), a NON-pin-aware deletion tool that destroyed a live pin's
    * below-floor window (the one fsck finding that means a replay
    * guarantee is already broken), a foreign tool's unparseable
    * `epoch=3.tmp` directory, and a build that crashed before its
    * first commit. Counts and epoch numbers are fixed by construction,
    * so the oracle is literal VALUES at any SF.
    */
  private val fsckFleetCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def fsckFleet(s: SparkSession, d: String): Seq[(String, String)] =
    fsckFleetCache.computeIfAbsent(d, _ => {
      import s.implicits._
      import graft.sources.{IndexManifest, LedgerIO, Scratch}
      import java.nio.file.{Files, Paths}
      graft.functions.GraftFunctions.registerDotD(s)
      val emb = Tables.embeddings(s, d)
      val roots = new java.util.concurrent.ConcurrentHashMap[String, String]()
      def chain(tag: String)(f: String => Unit): (String, () => Unit) =
        tag -> { () =>
          val dir = Scratch.dir(s"graft-fsck-$tag")
          roots.put(tag, dir)
          f(dir)
        }
      buildConcurrently(
        chain("ok")(dir => VectorOps.writeBqIndex(emb.filter($"vec_id" < 20L), dir)),
        // orphan stage: a crashed append's data directory above the
        // committed head - fsck only lists, so an empty dir is the fault
        chain("orphan") { dir =>
          VectorOps.writeBqIndex(emb.filter($"vec_id" < 20L), dir)
          Files.createDirectories(Paths.get(dir, "words", "epoch=7"))
        },
        // stranded tmp: a manifest writer that died between the tmp write
        // and the rename (planted as the foreign litter it is)
        chain("tmp") { dir =>
          VectorOps.writeBqIndex(emb.filter($"vec_id" < 20L), dir)
          Files.write(Paths.get(dir, "._graft_manifest.9.tmp"),
            "{}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        },
        // compacted but never vacuumed: words/0, dels/0, dels/1 reclaimable
        chain("stale") { dir =>
          VectorOps.writeBqIndex(emb.filter($"vec_id" < 40L), dir)
          VectorOps.deleteFromBqIndex(
            emb.filter($"vec_id" === 0).select($"vec_id"), dir)
          VectorOps.compactBqIndex(s, dir)
        },
        // a live pin whose protected window a NON-pin-aware janitor
        // already destroyed: the replay guarantee is broken NOW
        chain("gone") { dir =>
          VectorOps.writeBqIndex(emb.filter($"vec_id" < 40L), dir)
          VectorOps.deleteFromBqIndex(
            emb.filter($"vec_id" === 0).select($"vec_id"), dir)
          IndexManifest.registerPin(dir, "fsck-audit", 1L, IndexManifest.Bq)
          VectorOps.compactBqIndex(s, dir)
          Seq("words" -> 0L, "dels" -> 0L, "dels" -> 1L).foreach { case (c, e) =>
            LedgerIO.deleteRecursive(LedgerIO.child(s"$dir/$c", s"epoch=$e"))
          }
        },
        // a foreign tool's unparseable versioned directory
        chain("malformed") { dir =>
          VectorOps.writeBqIndex(emb.filter($"vec_id" < 20L), dir)
          Files.createDirectories(Paths.get(dir, "words", "epoch=3.tmp"))
        })
      val ok = roots.get("ok")
      val orphan = roots.get("orphan")
      val tmp = roots.get("tmp")
      val stale = roots.get("stale")
      val gone = roots.get("gone")
      val mal = roots.get("malformed")
      Seq("fsck_ok" -> ok, "fsck_orphan" -> orphan, "fsck_tmp" -> tmp,
        "fsck_stale" -> stale, "fsck_gone" -> gone, "fsck_malformed" -> mal,
        "fsck_crashed" -> Scratch.dir("graft-fsck-none"))
    })

  /** The integrity surface, oracle-gated over a fleet with one planted
    * fault per root: every finding is a deterministic consequence of
    * the fault and the listing rules, so the oracle is literal VALUES
    * — a missed fault, a spurious finding on the clean root, or a
    * drifted severity hash-mismatches.
    */
  val indexFsck = Q(
    "t_index_fsck",
    (s, d) => graft.sources.IndexMaintenance.fsck(s, fsckFleet(s, d)),
    Some("""
      SELECT * FROM (VALUES
        ('fsck_ok', 'bq', 'ok', 'ok', ''),
        ('fsck_orphan', 'bq', 'orphan_stage', 'info', 'epochs=7'),
        ('fsck_tmp', 'bq', 'stray_tmp', 'info', '._graft_manifest.9.tmp'),
        ('fsck_stale', 'bq', 'stale_epochs', 'warn', 'reclaimable=3'),
        ('fsck_gone', 'bq', 'pin_window_missing', 'error', 'owner=fsck-audit window=0-1'),
        ('fsck_malformed', 'bq', 'malformed_dir', 'info', 'epoch=3.tmp'),
        ('fsck_crashed', '_uncommitted', 'no_manifest', 'error', '')
      ) AS t(name, family, finding, severity, detail)
    """.stripMargin.trim),
  )

  val qs: Seq[Q] =
    Seq(splitAssign, sourceQuota, stratifiedSample, sampleExactK,
      weightedSample, shardPack,
      seqPack, contamination, domainMix, temperatureMix, trainLeaks,
      curateCorpus, curateSequences, curateFunnel, kAnonymity, kSuppress,
      lDiversity, erasureCert, erasureCertUsers, indexCatalog, indexAdvisor,
      vacuumPin, indexFsck)
}
