package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.model.UserBehavior
import graft.operators.Windowed
import graft.sources.{EpochLedger, StoredIndex}

/** Structured-Streaming wiring for the windowed statistics (SURVEY §2.4
  * W1-W8, §2.6 T1-T3, §2.9 K8).
  *
  * Windowed aggregations stream with `window()` + watermark; the per-window
  * Top-N — which Flink emits as a retract stream
  * (HotItemsWithSql.java:92) — is re-ranked per micro-batch inside
  * `foreachBatch`, the Spark-idiomatic equivalent of rank-over-update
  * (SURVEY §7.2: streaming `row_number` is not incremental in Spark; the
  * rank input is one row per (window, key) aggregate, so the per-batch
  * recompute is tiny regardless of event volume).
  *
  * Scale notes: the agg state store holds one accumulator per (window,
  * key); the watermark expires windows older than `delay`, bounding state.
  * Update mode emits only changed (window, key) rows per batch.
  */
object Streams {

  /** Event-time view of a UserBehavior stream (epoch-seconds → timestamp)
    * with an ascending-style watermark (W1; `delay` > 0 gives W2).
    */
  def withEventTime(
      events: Dataset[UserBehavior],
      delay: String = "0 seconds",
  ): DataFrame =
    events
      .withColumn("eventTime", timestamp_seconds(col("timestamp")))
      .withWatermark("eventTime", delay)

  /** Streaming sliding-window count per item (HotItems.java:77-79 shape):
    * update-mode aggregate, one row per (windowEnd, itemId) per batch.
    */
  def hotItemCounts(
      events: Dataset[UserBehavior],
      sizeSec: Long = 3600,
      slideSec: Long = 300,
      delay: String = "0 seconds",
  ): DataFrame =
    withEventTime(events, delay)
      .filter(col("behavior") === "pv")
      .groupBy(
        window(col("eventTime"), s"$sizeSec seconds", s"$slideSec seconds"),
        col("itemId"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        (unix_timestamp(col("window.end")) * 1000).as("windowEnd"),
        col("itemId"),
        col("cnt"))

  /** Per-micro-batch Top-N re-rank over the running aggregate — wire any
    * sink inside `emit`. This is the K8 retract-stream equivalent: each
    * batch re-emits the (possibly updated) top-N of every changed window.
    */
  def hotItemsTopN(
      events: Dataset[UserBehavior],
      topN: Int = 5,
      sizeSec: Long = 3600,
      slideSec: Long = 300,
      delay: String = "0 seconds",
  )(emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    hotItemCounts(events, sizeSec, slideSec, delay).writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val ranked = Windowed.topNPerWindow(batch.toDF(), col("itemId"), topN)
        emit(ranked, id)
        ()
      }

  /** Streaming tumbling PV count (PageView.java:59-70). Append mode: a
    * window's final count emits once the watermark passes its end.
    */
  def pageViews(
      events: Dataset[UserBehavior],
      sizeSec: Long = 3600,
      delay: String = "0 seconds",
  ): DataFrame =
    withEventTime(events, delay)
      .filter(col("behavior") === "pv")
      .groupBy(window(col("eventTime"), s"$sizeSec seconds"))
      .agg(count(lit(1)).as("count"))
      .select((unix_timestamp(col("window.end")) * 1000).as("windowEnd"), col("count"))

  /** Streaming UV via HLL (UvWithBloomFilter's job, Spark-idiomatic:
    * SURVEY §2.5 A5) — approx_count_distinct streams in update/append mode,
    * unlike exact countDistinct which Spark refuses on streams.
    */
  def uniqueVisitorsApprox(
      events: Dataset[UserBehavior],
      sizeSec: Long = 3600,
      delay: String = "0 seconds",
      rsd: Double = 0.01,
  ): DataFrame =
    withEventTime(events, delay)
      .filter(col("behavior") === "pv")
      .groupBy(window(col("eventTime"), s"$sizeSec seconds"))
      .agg(approx_count_distinct(col("userId"), rsd).as("uv"))
      .select((unix_timestamp(col("window.end")) * 1000).as("windowEnd"), col("uv"))

  /** Streaming Bloom-filter UV — the reference's flagship streaming job
    * (UvWithBloomFilter: Kafka → 1h window → Redis bitmap) in its native
    * streaming form, via the bit-exact [[graft.functions.BloomUvAggregate]]
    * (same ×61 hash, same 2^29 mask; collisions reproduced). Update mode:
    * each micro-batch upserts the running per-window set-bit count, which
    * is what the reference's per-element FIRE_AND_PURGE trigger emitted.
    * The aggregate's partial-merge unions offset sets across executors, so
    * state per (window) is one offset set — the in-engine replacement for
    * the external Redis bitmap (K6).
    *
    * State per open window is one COMPRESSED bitmap (the aggregate's
    * RoaringBitmap buffer): KBs when sparse, and capped at ~64 MB even
    * fully dense at 2^29 offsets — i.e. never worse than the Redis bitmap
    * it replaces, and usually far smaller. [[uniqueVisitorsApprox]]
    * (HLL++, constant KBs) remains the choice when approximate counts
    * suffice at any cardinality.
    */
  def uvBloom(
      events: Dataset[UserBehavior],
      sizeSec: Long = 3600,
      delay: String = "0 seconds",
  ): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    withEventTime(events, delay)
      .filter(col("behavior") === "pv")
      .groupBy(window(col("eventTime"), s"$sizeSec seconds"))
      .agg(graft.functions.GraftFunctions.bloomUv(col("userId")).as("uv"))
      .select((unix_timestamp(col("window.end")) * 1000).as("windowEnd"), col("uv"))
  }

  /** Gap-based sessionization via Spark's native `session_window` — the
    * streaming counterpart of the batch lag+running-sum formulation in
    * [[graft.queries.EventAnalytics.sessionize]]. Works identically on a
    * bounded DataFrame (used for the parity spec) and a stream (state
    * store merges windows as events arrive; watermark closes sessions).
    *
    * Input: any frame with `user_id` and an event-time column `eventTime`.
    */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame =
    events
      .groupBy(session_window(col("eventTime"), s"$gapSec seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("start_sec"),
        // session_window.end = last event + gap: subtract the gap to get
        // the last-event timestamp the batch formulation reports
        (unix_timestamp(col("session_window.end")) - gapSec).as("end_sec"),
        col("n_events"))

  /** Streaming relaxed-contiguity funnel — the stream-native form of the
    * `e_funnel_relaxed` catalog query: every ordered step1 → step2 → step3
    * triple of one user within `windowSec`, computed as CHAINED
    * stream-stream interval joins (two stateful joins back to back —
    * Spark 4 multiple-stateful-operator support). Each join carries a
    * time-bound condition (`later.eventTime` within [earlier.eventTime,
    * earlier + windowSec]), so both join states evict as the watermark
    * passes — state per side is (events in the last windowSec), the same
    * bound Flink's interval join holds. Ties order by (ts_sec, event_id)
    * exactly like the batch form, so batch↔streaming parity is row-exact.
    *
    * Input: a stream with `user_id, event_type, ts_sec, event_id` and a
    * watermarked `eventTime`. Emits one append-mode row per completed
    * triple (user_id, first_sec, last_sec) — aggregate downstream
    * (`groupBy(user_id).count`) for the conversion-count view.
    */
  def funnelRelaxed(
      events: DataFrame,
      steps: (String, String, String),
      windowSec: Long,
  ): DataFrame = {
    def leg(t: String, a: String) = events
      .filter(col("event_type") === t)
      .select(
        col("user_id").as(s"${a}_uid"),
        col("ts_sec").as(s"${a}_sec"),
        col("event_id").as(s"${a}_id"),
        col("eventTime").as(s"${a}_time"))
    def after(a: String, b: String) =
      (col(s"${b}_sec") > col(s"${a}_sec")) ||
        (col(s"${b}_sec") === col(s"${a}_sec") && col(s"${b}_id") > col(s"${a}_id"))
    def within(a: String, b: String) =
      col(s"${b}_time") >= col(s"${a}_time") &&
        col(s"${b}_time") <= col(s"${a}_time") + expr(s"INTERVAL $windowSec SECONDS")
    leg(steps._1, "v")
      .join(leg(steps._2, "c"),
        col("c_uid") === col("v_uid") && after("v", "c") && within("v", "c"))
      .join(leg(steps._3, "p"),
        col("p_uid") === col("v_uid") && after("c", "p") && within("v", "p") &&
          col("p_sec") - col("v_sec") <= windowSec)
      .select(col("v_uid").as("user_id"), col("v_sec").as("first_sec"), col("p_sec").as("last_sec"))
  }

  /** Late-data audit (SURVEY §2.4 W6): Flink's allowedLateness side output
    * has no Spark primitive — the windowed aggregation silently drops rows
    * below the watermark. This companion stream marks events arriving more
    * than `latenessSec` behind the maximum event time seen so far, so the
    * drops are observable (tee it to its own sink next to the main query).
    *
    * Scale design: a single global max-ts would serialize on one key, so
    * event time is tracked per hash bucket (`buckets` ≈ executor
    * parallelism) in flatMapGroupsWithState. A bucket sees ~1/buckets of
    * the stream, so its local max trails the true global max only while a
    * bucket is briefly starved — a documented approximation in exchange
    * for linear scaling (Flink's own lateness marking is per-key-stream
    * relative to a global watermark, which Spark does not expose in-plan).
    */
  def lateAudit(
      events: Dataset[UserBehavior],
      latenessSec: Long,
      buckets: Int = 32,
  ): Dataset[UserBehavior] = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val outEnc = Encoders.product[UserBehavior]
    implicit val stEnc = Encoders.scalaLong
    events
      .groupByKey(e => (e.userId % buckets).toInt)(Encoders.scalaInt)
      .flatMapGroupsWithState[Long, UserBehavior](
        streaming.OutputMode.Append(),
        streaming.GroupStateTimeout.NoTimeout()) { (_, it, state: streaming.GroupState[Long]) =>
        // compare against the max carried over from PREVIOUS batches only:
        // Spark's watermark advances between micro-batches, so within one
        // batch nothing is dropped yet — this mirrors which rows the
        // windowed aggregation will actually discard
        val prevMax = state.getOption.getOrElse(Long.MinValue)
        val evs = it.toSeq
        val late =
          if (prevMax == Long.MinValue) Seq.empty
          else evs.filter(_.timestamp < prevMax - latenessSec)
        state.update(math.max(prevMax, evs.map(_.timestamp).max))
        late.iterator
      }
  }

  /** Streaming exact deduplication — the streaming half of the dedup
    * taxonomy (batch: `t_dedup_exact`). The first occurrence of each key
    * passes; re-occurrences arriving within `delay` of each other are
    * dropped; a key's state is evicted once the watermark passes its
    * event time plus `delay`. That eviction is the 100 TB/day point: a
    * plain streaming `dropDuplicates` keeps every key seen FOREVER, while
    * this bounds state to (key arrival rate × horizon). A key recurring
    * after eviction re-emits — exact global dedup over an unbounded
    * stream is impossible in finite state; the horizon is the contract.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keys: Seq[String],
      eventTimeCol: String,
      delay: String,
  ): DataFrame =
    events
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming IVF cell assignment — the vector pack's stream-native
    * surface: every arriving embedding is tagged with its nearest
    * centroid (the same floored-micros distance + lowest-cell tiebreak as
    * the batch [[graft.queries.VectorOps]] assignment, so batch and
    * stream route a vector to the SAME cell). The trained centroids are a
    * driver-side literal folded into the plan — the sanctioned
    * O(|cells|) hand-off — which makes this a STATELESS projection:
    * append mode, no watermark, no state store. This is the ingest path
    * of a live vector index at 100 TB: route on arrival, compact
    * per-cell files periodically in batch.
    */
  def ivfAssignStream(vecStream: DataFrame, centroids: Seq[(Long, Array[Float])]): DataFrame =
    ivfAssignStreamKeep(vecStream, centroids)
      .select(col("vec_id"), col("cell"), col("embedding"))

  /** [[ivfAssignStream]] with every input column preserved (+ `cell`) —
    * the composable core ([[indexDriftStream]] needs the event-time
    * column to survive the assignment).
    */
  def ivfAssignStreamKeep(
      vecStream: DataFrame, centroids: Seq[(Long, Array[Float])]): DataFrame = {
    val centsCol = array(centroids.sortBy(_._1).map { case (id, v) =>
      struct(lit(id).as("cell"), typedLit(v).as("c_emb"))
    }: _*)
    // fold over the centroid array: strict < on floored micros keeps the
    // EARLIEST (lowest-cell) centroid on ties — identical to the batch
    // ORDER BY d2_micros ASC, cell ASC rank
    vecStream
      .withColumn("cents", centsCol)
      .withColumn("best", expr(
        """aggregate(
          |  cents,
          |  struct(CAST(-1 AS BIGINT) AS cell, CAST(NULL AS BIGINT) AS d2),
          |  (acc, c) -> CASE WHEN acc.d2 IS NULL
          |       OR CAST(FLOOR(1000000 * (dot_d(embedding, embedding) + dot_d(c.c_emb, c.c_emb)
          |            - 2.0 * dot_d(embedding, c.c_emb))) AS BIGINT) < acc.d2
          |    THEN struct(c.cell AS cell,
          |                CAST(FLOOR(1000000 * (dot_d(embedding, embedding) + dot_d(c.c_emb, c.c_emb)
          |                  - 2.0 * dot_d(embedding, c.c_emb))) AS BIGINT) AS d2)
          |    ELSE acc END)""".stripMargin))
      .withColumn("cell", col("best.cell"))
      .drop("cents", "best")
  }

  /** Live codebook-drift monitor — the streaming twin of the batch
    * `v_index_drift` row: arrivals route to cells statelessly
    * ([[ivfAssignStreamKeep]]'s literal centroids), per-(window, cell)
    * counts aggregate under the watermark, and a SECOND stateful
    * aggregation per window (Spark's chained windowed-aggregation
    * support) folds each finalized histogram against the stored base
    * shares — an O(nCells) literal, same sanctioned hand-off class as
    * the centroids — into one drift row per window: (window, n_delta,
    * tv_ppm). An operator alerts on tv_ppm crossing a threshold within
    * minutes of a bad ingest instead of at the next batch audit. State
    * is nCells rows per open window plus one row per closing window.
    */
  def indexDriftStream(
      vecStream: DataFrame,
      centroids: Seq[(Long, Array[Float])],
      baseShares: Seq[(Long, Long)],
      windowSec: Long,
      eventTimeCol: String,
      delay: String,
  ): DataFrame = {
    val shareMap = map(baseShares.sortBy(_._1).flatMap { case (c, s) =>
      Seq(lit(c), lit(s))
    }: _*)
    val cellIds = baseShares.map(_._1).sorted
    ivfAssignStreamKeep(vecStream, centroids)
      .withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), s"$windowSec seconds"), col("cell"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("window"))
      .agg(
        collect_list(struct(col("cell"), col("n"))).as("cells"),
        sum(col("n")).as("n_delta"))
      .withColumn("base_shares", shareMap)
      .withColumn("tv_ppm", expr(
        s"""aggregate(
           |  transform(array(${cellIds.mkString(", ")}), c -> abs(
           |    coalesce(try_element_at(base_shares, c), 0L)
           |    - (1000000 * coalesce(
           |         aggregate(filter(cells, x -> x.cell = c), 0L, (a, x) -> a + x.n),
           |         0L)) div n_delta)),
           |  0L, (acc, x) -> acc + x) div 2""".stripMargin))
      .select(col("window"), col("n_delta"), col("tv_ppm"))
  }

  /** Streaming PQ encode — the code-generation half of a live IVF-PQ
    * index's ingest path: arriving embeddings are quantized to their
    * (sub, code) rows against a FROZEN trained codebook
    * ([[graft.queries.VectorOps.pqCodebook]]'s m×k = 64-entry driver
    * hand-off, folded into the plan as a literal like ivfAssignStream's
    * centroids), so encoding is a STATELESS per-row projection: append
    * mode, no watermark, no state store, no shuffle. Output schema
    * matches the batch encoder (vec_id, sub, code, err_micros) — the
    * fold keeps the earliest (lowest-code) codeword on distance ties,
    * identical to batch's packed-long (d2, code) min.
    */
  def pqEncodeStream(
      vecStream: DataFrame,
      codebook: Seq[(Int, Long, Array[Float])]): DataFrame = {
    val m = graft.queries.VectorOps.pqM
    val subDim = graft.queries.VectorOps.pqSubDim
    val cwCol = array(codebook.sortBy(c => (c._1, c._2)).map { case (s, c, v) =>
      struct(lit(s).as("sub"), lit(c).as("code"), typedLit(v).as("c_sub"))
    }: _*)
    val d2 = (vs: String) =>
      s"""CAST(FLOOR(1000000 * (dot_d($vs, $vs) + dot_d(c.c_sub, c.c_sub)
         |  - 2.0 * dot_d($vs, c.c_sub))) AS BIGINT)""".stripMargin
    vecStream
      .withColumn("cw", cwCol)
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${m - 1}, 1), s ->
           |  aggregate(
           |    filter(cw, c -> c.sub = s),
           |    struct(CAST(s AS BIGINT) AS sub, CAST(-1 AS BIGINT) AS code,
           |           CAST(NULL AS BIGINT) AS d2),
           |    (acc, c) -> CASE WHEN acc.d2 IS NULL
           |        OR ${d2(s"slice(embedding, s * $subDim + 1, $subDim)")} < acc.d2
           |      THEN struct(acc.sub AS sub, c.code AS code,
           |                  ${d2(s"slice(embedding, s * $subDim + 1, $subDim)")} AS d2)
           |      ELSE acc END))""".stripMargin))
      .select(col("vec_id"), explode(col("codes")).as("c"))
      .select(col("vec_id"), col("c.sub").as("sub"), col("c.code").as("code"),
        col("c.d2").as("err_micros"))
  }

  /** Running heavy-hitter sketch over a token stream — the streaming twin
    * of `t_token_heavy`: the Misra-Gries buffer IS the aggregation state
    * (k counters, merged associatively as micro-batches arrive), so state
    * is O(k) forever regardless of vocabulary — the property that makes
    * frequent-token monitoring viable on an unbounded stream where an
    * exact running count would grow with the distinct-token count.
    * Update mode re-emits the sketch each batch; the mergeable-summaries
    * bound holds over the CUMULATIVE stream at every emission
    * (StreamsSpec drives this per-batch).
    */
  def tokenHeavyStream(tokens: DataFrame, k: Int): DataFrame = {
    val mg = udaf(new graft.functions.MisraGriesAggregator(k))
    tokens.select(mg(col("token")).as("sk"))
  }

  /** Streaming half of the corpus-cleaning pipeline (`t_clean_corpus` is
    * the batch whole): watermark-bounded exact dedup on the content hash,
    * then the SAME quality gate (shared projection —
    * [[graft.queries.TextOps.withQuality]]). Near-dup removal stays a
    * batch/periodic compaction pass by design: MinHash banding needs a
    * global view of the corpus, which finite streaming state cannot hold —
    * the standard split between an ingest-time filter and an offline
    * compaction.
    *
    * Input must carry `text` plus an event-time column; emits the clean
    * docs in append mode (first occurrence of each content hash, quality
    * at least 'fair').
    */
  def cleanCorpusStream(
      docs: DataFrame,
      eventTimeCol: String,
      delay: String,
  ): DataFrame =
    graft.queries.TextOps
      .withQuality(
        dedupWithinWatermark(
          docs.withColumn("text_hash", md5(col("text"))),
          keys = Seq("text_hash"),
          eventTimeCol = eventTimeCol,
          delay = delay))
      .filter(col("quality") =!= "poor")

  /** Streaming paragraph-grain dedup (the ingest-time twin of batch
    * `t_dedup_para`): explode each arriving document into paragraph
    * blocks, keep the FIRST occurrence of every distinct paragraph within
    * the watermark horizon, emit kept (doc_id, para_idx, para) rows in
    * append mode. Reassembly into documents stays a batch compaction
    * concern by design — streaming training-data ingest writes
    * paragraph-grain records, and stitching them back per doc would be a
    * second stateful aggregation holding every open document's paragraphs
    * in state for no consumer benefit (the same ingest-filter /
    * offline-compaction split as [[cleanCorpusStream]]'s near-dup half).
    * State is one row per distinct paragraph hash inside the horizon —
    * watermark-evicted, like [[dedupWithinWatermark]]; a boilerplate
    * block recurring beyond the horizon re-emits once per horizon, the
    * bounded-state trade every streaming dedup makes.
    *
    * Input must carry `doc_id`, `text`, and an event-time column.
    */
  def dedupParaStream(
      docs: DataFrame,
      eventTimeCol: String,
      delay: String,
      paraTokens: Int = 25,
  ): DataFrame = {
    val paras = docs
      .withColumn("tk", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("tk")) > 0)
      .select(
        col("doc_id"),
        col(eventTimeCol),
        posexplode(expr(
          s"""transform(sequence(0, (size(tk) - 1) DIV $paraTokens),
             |  b -> concat_ws(' ', slice(tk, b * $paraTokens + 1, $paraTokens)))""".stripMargin)))
      .withColumnRenamed("pos", "para_idx")
      .withColumnRenamed("col", "para")
      .withColumn("para_hash", md5(col("para")))
    dedupWithinWatermark(paras, Seq("para_hash"), eventTimeCol, delay)
      .select(col("doc_id"), col("para_idx"), col("para"))
  }

  /** Streaming PII scrub (the ingest-time twin of batch `t_pii_scrub`):
    * a pure stateless per-row projection, so it runs identically in
    * append mode with NO state, NO watermark requirement, and no
    * semantic delta from the batch form — the one corpus-rewrite pass
    * that is trivially streaming-safe. Input must carry `doc_id` and
    * `text`; emits the scrubbed text plus per-category redaction counts.
    */
  def piiScrubStream(docs: DataFrame): DataFrame =
    graft.queries.TextOps.piiScrubOn(docs)

  /** Streaming token-window chunking (the ingest-time twin of batch
    * `t_chunk`): chunking is a stateless per-row projection + explode,
    * so the BATCH operator core runs unchanged on a stream — append
    * mode, no watermark, no state. This is the ingest shape of a
    * training-data pipeline that chunks on arrival and ships chunk
    * records to the packer. Input must carry `doc_id` and `text`.
    */
  def chunkStream(docs: DataFrame): DataFrame =
    graft.queries.TextOps.chunksOf(docs)

  /** Streaming DSIR scoring (the deployment half of batch
    * `t_dsir_weight`): new documents are scored against a FROZEN
    * importance model — the O(256)-entry bucket-ratio table
    * `TextOps.dsirModelOf` exports from the batch fit — folded into the
    * plan as a map literal, so scoring is a pure per-row lookup+fold:
    * append mode, no state, no shuffle. Retraining stays a periodic
    * batch job by design (the model needs corpus-global counts), the
    * same fit-offline / score-online split every production importance
    * sampler uses; `defaultPpm` prices tokens from buckets the fit
    * never saw (the smoothed ratio at zero counts).
    */
  def dsirScoreStream(
      docs: DataFrame,
      model: Seq[(Long, Long)],
      defaultPpm: Long,
  ): DataFrame =
    graft.queries.TextOps.dsirScoreWith(docs, model, defaultPpm)

  /** Streaming half of incremental ingest dedup (batch whole:
    * `t_delta_dedup`): the arriving delta batch is deduplicated against
    * the STATIC base-corpus index — the persistent distinct-content-hash
    * artifact (`text_hash` column) a pipeline stores between ingests —
    * via a stream-static LEFT ANTI join, then within-stream duplicates
    * are dropped inside the watermark horizon. Emits only the kept docs
    * (the ingest-filter contract; batch `t_delta_dedup` is where per-doc
    * verdicts live — streaming append mode cannot label a row
    * `dup_in_delta` after its keeper already emitted).
    *
    * State is one row per distinct fresh content hash inside the horizon,
    * watermark-evicted; the base index itself is NOT state — Spark
    * re-reads the static side per micro-batch, so the index can be
    * arbitrarily large (and refreshed by a concurrent compaction job)
    * without touching the state store.
    *
    * Input must carry `text` plus an event-time column; `baseIndex` must
    * carry `text_hash`.
    */
  def deltaDedupStream(
      delta: DataFrame,
      baseIndex: DataFrame,
      eventTimeCol: String,
      delay: String,
  ): DataFrame =
    dedupWithinWatermark(
      delta
        .withColumn("text_hash", md5(col("text")))
        // no distinct() on the index: LEFT ANTI is insensitive to static-
        // side duplicates, and a distinct would re-shuffle the corpus-
        // sized index on EVERY micro-batch
        .join(baseIndex.select("text_hash"), Seq("text_hash"), "left_anti"),
      keys = Seq("text_hash"),
      eventTimeCol = eventTimeCol,
      delay = delay)

  /** Day-2 SPAN-grain scrub, ingest half: arriving docs' stride-1 token
    * windows checked against the FROZEN curated-base span index
    * ([[graft.queries.TextOps.substringIndexOn]]'s distinct window
    * hashes, re-read per micro-batch like [[deltaDedupStream]]'s index —
    * corpus-sized and hot-swappable, never in the state store). Emits
    * span-grain scrub rows (doc_id, start, fin): every window of an
    * arriving doc whose 20-token text already exists in the base is a
    * span the base owns (keep-first semantics — the base, being first,
    * keeps; the newcomer is cut). Stateless stream-static equi-join on
    * the hash, zero state, append mode.
    *
    * The ingest/compaction split mirrors dedupParaStream: the stream
    * marks spans, the batch compaction pass applies them (reassembling
    * scrubbed text needs the doc's full span set, which is exactly what
    * this emits per doc). In-stream cross-doc repeats are deliberately
    * left to the next batch compaction — tracking them live would mean
    * unbounded window-hash state for spans that mostly never repeat.
    */
  def substringScrubSpansStream(delta: DataFrame, baseSpanIndex: DataFrame): DataFrame =
    graft.queries.TextOps.streamTokenWindows(delta)
      .join(baseSpanIndex.select("h"), Seq("h"))
      .select(col("doc_id"), col("start"),
        (col("start") + graft.queries.TextOps.winW - 1).as("fin"))

  /** Day-2 LEXICAL near-dup ingest, streaming half (batch whole:
    * [[graft.queries.TextOps.deltaNearDupFromIndex]]): each arriving doc
    * is signed per row ([[graft.queries.TextOps.streamBandRows]] — the
    * signature as a pure projection, so no aggregation state) and its
    * band keys probe the STORED LSH index's bucket-count table
    * (`writeLshIndex`; re-read per micro-batch like the other static
    * indexes — corpus-sized, hot-swappable, never in the state store).
    * A band hit in a bucket the base populates within the mega-bucket
    * cap marks the arrival `neardup_of_base`; the left SEMI join emits
    * each matching band row once and the watermark-bounded key dedup
    * collapses multi-band hits to one verdict row per doc.
    *
    * Marker contract like [[substringScrubSpansStream]]: the stream
    * emits the FLAGGED arrivals (keep-set = delta minus marks, applied
    * by the batch compaction pass). Per-arrival cap semantics equal the
    * batch operator's at n_delta = 1 — a live stream admits docs
    * independently, so the batch run's within-delta bucket crowding
    * (n_delta > 1 tipping a bucket over cap) is compaction's concern,
    * not ingest's.
    */
  def deltaNearDupStream(
      delta: DataFrame,
      lshIndexPath: String,
      eventTimeCol: String,
      delay: String,
  ): DataFrame = {
    val s = delta.sparkSession
    val withinCap = StoredIndex.Lsh.read(s, lshIndexPath, "bucket_counts")
      .filter(col("n_base") + 1 <= graft.queries.TextOps.maxBucket)
      .select("band", "bkey")
    val hits = graft.queries.TextOps.streamBandRows(delta)
      .join(withinCap, Seq("band", "bkey"), "left_semi")
      .select(col("doc_id"), col(eventTimeCol))
    dedupWithinWatermark(hits, Seq("doc_id"), eventTimeCol, delay)
      .withColumn("verdict", lit("neardup_of_base"))
  }

  /** Streaming Hamming near-dup screen against the STORED binary-
    * quantization index ([[graft.queries.VectorOps.writeBqIndex]]) —
    * the embedding-ingest twin of [[deltaNearDupStream]]: each arriving
    * (vec_id, embedding, eventTime) is sign-packed to 64 bits, its 4
    * 16-bit bands equi-join the stored words' bands (stream-static — no
    * streaming state on the join itself), and the EXACT Hamming filter
    * keeps only true within-radius collisions, so a flagged arrival is
    * a brute-force-certified near-dup of history (the pigeonhole
    * completeness argument on the batch operator). Multi-band hits
    * collapse to one verdict row via the watermark-bounded key dedup.
    *
    * Scale: the static side is 8 B/vector (plus the derived band rows)
    * — the cheapest possible representation of "all of history" a live
    * screen can join against; the stream side is a stateless projection
    * per arrival. Staleness contract as [[deltaNearDupStream]]: the
    * stored side binds at stream construction — rebuild the stream
    * after an [[graft.queries.VectorOps.appendBqIndex]] fold.
    *
    * Emits the FLAGGED arrivals: (vec_id, eventTime, verdict).
    */
  def bqNearDupStream(
      arrivals: DataFrame,
      bqIndexPath: String,
      eventTimeCol: String,
      delay: String,
  ): DataFrame = {
    import graft.queries.VectorOps
    val s = arrivals.sparkSession
    val baseBands = VectorOps.bqBandRows(StoredIndex.Bq.resolved(s, bqIndexPath))
      .withColumnRenamed("vec_id", "b_id")
      .withColumnRenamed("w_lo", "b_lo")
      .withColumnRenamed("w_hi", "b_hi")
    val hits = VectorOps.bqBandRowsOf(
      arrivals.select(col("vec_id"), col("embedding"), col(eventTimeCol)))
      .join(baseBands, Seq("band", "bkey"))
      .filter(
        (bit_count(col("w_lo").bitwiseXOR(col("b_lo"))) +
          bit_count(col("w_hi").bitwiseXOR(col("b_hi")))).cast("long")
          <= VectorOps.bqRadius)
      .select(col("vec_id"), col(eventTimeCol))
    dedupWithinWatermark(hits, Seq("vec_id"), eventTimeCol, delay)
      .withColumn("verdict", lit("neardup_of_base"))
  }

  /** Standing-query relevance alerting (selective dissemination): each
    * arriving document is BM25-scored against a fixed query using the
    * STORED postings index's statistics ([[graft.queries.SearchOps
    * .writePostingsIndex]] — idf from the term-df table, length
    * normalization from the corpus stats row), and documents matching at
    * least one query term emit (doc_id, score_pp12). The routing half of
    * search: instead of queries probing the corpus, the corpus streams
    * past the query.
    *
    * Entirely STATELESS — per-term tf and doc length are pure
    * projections over the token array (|terms| is a small constant), so
    * there is no aggregation state, no shuffle, and no watermark
    * requirement: this composes onto any ingest stream at line rate.
    * Index stats are read once at stream construction (|terms| + 1 rows,
    * the sanctioned bounded hand-off class); scores are the same exact
    * integer rational as [[graft.queries.SearchOps.bm25SearchFromIndex]]
    * — StreamsSpec pins per-doc equality against the batch ranker under
    * identical stats. Terms the index has never seen score 0 (df is
    * undefined), matching the batch searcher's inner join on the term
    * table.
    *
    * STALENESS CONTRACT: because the stats are baked into the plan at
    * construction, a stream that outlives an `appendPostingsIndex`
    * cycle keeps scoring with the old idf — rebuild the stream after an
    * append, or use [[bm25AlertBatchScorer]] with `foreachBatch`, which
    * re-resolves the committed stats every micro-batch and follows
    * appends live.
    *
    * Input columns: doc_id, text.
    */
  def bm25AlertStream(
      delta: DataFrame, postingsIndexPath: String, terms: Seq[String]): DataFrame =
    scoreAgainstIndexStats(delta, postingsIndexPath, terms)

  /** The scoring projection against the index's CURRENTLY COMMITTED
    * stats — resolved fresh on every call (manifest first, then the
    * |terms| + 1 stat rows). An index built from an EMPTY corpus (n = 0
    * or tl = 0 — every saturation denominator would be 0) short-circuits
    * to the always-empty frame instead of letting ANSI mode throw
    * divide-by-zero on the first matching arrival.
    */
  private def scoreAgainstIndexStats(
      delta: DataFrame, postingsIndexPath: String, terms: Seq[String]): DataFrame = {
    val s = delta.sparkSession
    val stats = StoredIndex.Postings.read(s, postingsIndexPath, "corpus").first()
    val n = stats.getAs[Long]("n_docs")
    val tl = stats.getAs[Long]("total_tokens")
    val idf: Map[String, Long] =
      if (n == 0L || tl == 0L) Map.empty
      else StoredIndex.Postings.read(s, postingsIndexPath, "terms")
        .filter(col("t").isin(terms: _*))
        .collect()
        .map(r => r.getAs[String]("t") -> (n * 1000000L / r.getAs[Long]("df")))
        .toMap
    if (idf.isEmpty) {
      // empty corpus or no indexed query term: nothing can ever score —
      // return the filtered-empty frame (same schema), no div expression
      return delta.filter(lit(false)).select(col("doc_id"), lit(0L).as("score_pp12"))
    }
    val base = delta
      .withColumn("tk", graft.queries.TextOps.toks)
      .withColumn("dl", size(col("tk")).cast("long"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (acc, (t, i)) =>
      acc.withColumn(s"tf_$i", size(filter(col("tk"), x => x === lit(t))).cast("long"))
    }
    val scoreExpr = terms.zipWithIndex
      .collect { case (t, i) if idf.contains(t) =>
        s"(${idf(t)}L * ((22000000L * tf_$i * ${tl}L) div " +
          s"(10L * tf_$i * ${tl}L + 3L * ${tl}L + 9L * dl * ${n}L)))"
      }.mkString(" + ")
    withTf
      .withColumn("score_pp12", expr(scoreExpr))
      .filter(col("score_pp12") > 0L)
      .select(col("doc_id"), col("score_pp12"))
  }

  /** Fresh-stats standing-query alerting: a `foreachBatch` body that
    * re-reads the index's committed corpus/term stats EVERY micro-batch
    * (a manifest read + |terms| + 1 rows — negligible against any batch)
    * and hands the scored batch to `sink`. This is the long-running
    * form of [[bm25AlertStream]]: after `appendPostingsIndex` folds a
    * day's arrivals in, the NEXT micro-batch scores with the advanced
    * idf/length stats automatically (StreamsSpec pins exactly that:
    * append mid-stream, post-append batches match the batch ranker
    * under the new stats). Usage:
    *
    * {{{
    * deltaStream.writeStream
    *   .foreachBatch(Streams.bm25AlertBatchScorer(path, terms)(sink))
    *   .start()
    * }}}
    */
  def bm25AlertBatchScorer(postingsIndexPath: String, terms: Seq[String])(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      sink(scoreAgainstIndexStats(batch, postingsIndexPath, terms), batchId)

  /** Standing PHRASE query over an ingest stream — the adjacency-aware
    * sibling of [[bm25AlertStream]]: each arriving doc emits
    * (doc_id, phrase_tf) when the exact phrase occurs. Entirely
    * stateless AND index-free — unlike BM25 there are no corpus stats
    * in a phrase count, so the projection needs nothing but the
    * arrival's own tokens: pure line-rate routing that composes onto
    * any stream. Occurrence counting is the same guarded
    * window-position form as the batch `t_phrase_search`
    * (StreamsSpec pins per-doc equality).
    *
    * Input columns: doc_id, text.
    */
  def phraseAlertStream(delta: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val adj = (1 to phrase.length).zip(phrase).map { case (off, w) =>
      s"element_at(tk, i + ${off - 1}) = '$w'"
    }.mkString(" AND ")
    delta
      .withColumn("tk", graft.queries.TextOps.toks)
      .withColumn("phrase_tf", expr(
        s"""CASE WHEN size(tk) >= ${phrase.length}
           |THEN cast(size(filter(sequence(1, size(tk) - ${phrase.length - 1}),
           |  i -> $adj)) AS BIGINT) ELSE 0L END""".stripMargin))
      .filter(col("phrase_tf") > 0L)
      .select(col("doc_id"), col("phrase_tf"))
  }

  /** Standing PROXIMITY query over an ingest stream — [[phraseAlertStream]]
    * with a slop window: emits (doc_id, near_tf) counting ordered
    * `t1 .. t2` position pairs within `slop` tokens (the directional
    * NEAR operator, `t_proximity_search`'s exact semantics — the spec
    * pins per-doc equality). Stateless, index-free, line-rate.
    *
    * Input columns: doc_id, text.
    */
  def proximityAlertStream(
      delta: DataFrame, t1: String, t2: String, slop: Int): DataFrame = {
    // the intersect formulation (SearchOps.nearIntersect): however the
    // optimizer substitutes these column definitions into the pushed
    // filter, every pass stays linear in |tk| — the nested-lambda pair
    // count would go quadratic under exactly that substitution
    def posOf(t: String) =
      s"""CASE WHEN size(tk) >= 1
         |THEN filter(sequence(1, size(tk)), i -> element_at(tk, i) = '$t')
         |ELSE cast(array() AS array<int>) END""".stripMargin
    delta
      .withColumn("tk", graft.queries.TextOps.toks)
      .withColumn("p1", expr(posOf(t1)))
      .withColumn("p2", expr(posOf(t2)))
      .withColumn("near_tf",
        expr(graft.queries.SearchOps.nearIntersect("p1", "p2", slop)))
      .filter(col("near_tf") > 0L)
      .select(col("doc_id"), col("near_tf"))
  }

  /** Per-user state for [[cooccurStream]]: the user's distinct items
    * while cap-eligible (≤ cap entries — the state bound IS the degree
    * cap), or the empty list + flag once bot-grade.
    */
  final case class CooccurState(items: Seq[Long], ineligible: Boolean)
  final case class PairDelta(i1: Long, i2: Long, delta: Long)

  /** Streaming co-occurrence maintenance — the live twin of
    * [[graft.queries.GraphOps.appendCooccurIndex]], expressed as a
    * RETRACTION stream (the reference's retract-stream concept pointed
    * at the capped pair family): each arriving (user_id, item) emits
    * `+1` deltas for the new item × the user's carried items, and a
    * user CROSSING `cap` emits `-1` for every pair they previously
    * supported, then contributes nothing ever again. Summing deltas per
    * (i1, i2) downstream (update mode) therefore equals the stored
    * fold's pair table at every prefix — the spec drives the SAME
    * random slices through both and checks equality per batch.
    *
    * State: ≤ cap item ids per eligible user (the cap bounds the state,
    * not just the join); an ineligible user is 1 flag. Per-arrival
    * emissions ≤ cap deltas, crossing emits C(cap, 2) once. Degrees
    * only grow, so ineligibility is absorbing — no re-admission logic.
    *
    * Input columns: user_id, item.
    */
  def cooccurStream(
      ui: DataFrame,
      cap: Long = graft.queries.GraphOps.maxUserDegree): DataFrame = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val outEnc = Encoders.product[PairDelta]
    implicit val stEnc = Encoders.product[CooccurState]
    ui.select(col("user_id").cast("long"), col("item").cast("long"))
      .as[(Long, Long)](Encoders.product[(Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[CooccurState, PairDelta](
        OutputMode.Append(),
        streaming.GroupStateTimeout.NoTimeout()) {
        (_, it, state: streaming.GroupState[CooccurState]) =>
          var st = state.getOption.getOrElse(CooccurState(Vector.empty, false))
          val out = Vector.newBuilder[PairDelta]
          // deterministic fold order (item id) so batch-boundary placement
          // never changes WHICH pairs exist, only when they are emitted
          it.map(_._2).toSeq.distinct.sorted.foreach { item =>
            if (!st.ineligible && !st.items.contains(item)) {
              if (st.items.length + 1L <= cap) {
                st.items.foreach { prev =>
                  out += PairDelta(math.min(prev, item), math.max(prev, item), 1L)
                }
                st = st.copy(items = st.items :+ item)
              } else {
                // crossing: retract every pair this user ever supported
                for (a <- st.items.indices; b <- a + 1 until st.items.length)
                  out += PairDelta(
                    math.min(st.items(a), st.items(b)),
                    math.max(st.items(a), st.items(b)), -1L)
                st = CooccurState(Vector.empty, ineligible = true)
              }
            }
          }
          state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-doc latest-version state for [[scd2Stream]]. */
  final case class Scd2State(version: Long, hash: String, validFrom: Long, validTo: Long)
  final case class Scd2Closed(
      doc_id: Long, version: Long, content_hash: String,
      valid_from: Long, valid_to: Long)

  /** Streaming SCD2 fold — the live twin of the stored-table fold
    * ([[graft.queries.TextOps.appendScd2Snapshot]]): per doc, the state
    * carries the NEWEST version row; each arriving (doc_id, d, text)
    * snapshot membership either extends it (same hash, contiguous day),
    * or supersedes it — emitting the old version as a CLOSED row, the
    * same rows the stored fold appends to its `closed` component
    * (StreamsSpec pins set equality). Presence gaps resolve exactly like
    * the batch operators': a doc with no arrival on day d simply has no
    * invocation — the gap is detected at its NEXT arrival (d' > valid_to
    * + 1 starts a new version, the scd2On re-add convention), so absence
    * needs no day barrier. `is_current` is inherently a read-time
    * property (it depends on the last day), so the stream emits only
    * closure facts; the open rows are the state itself.
    *
    * Ordering contract as the other stateful twins: arrivals fold in
    * day order within a micro-batch; cross-batch, days must not regress
    * per doc (snapshot ingest is day-ordered by construction). A
    * same-day re-arrival is a duplicate (first wins); a REGRESSED day
    * is a contract violation and FAILS the query — the stored fold
    * fences the same event on meta.last_day, and silently dropping it
    * here would let the stream diverge from the stored table.
    *
    * Input columns: doc_id, d, text.
    */
  def scd2Stream(snaps: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val outEnc = Encoders.product[Scd2Closed]
    implicit val stEnc = Encoders.product[Scd2State]
    snaps
      .select(col("doc_id").cast("long"), col("d").cast("long"),
        md5(col("text")).as("h"))
      .as[(Long, Long, String)](Encoders.product[(Long, Long, String)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[Scd2State, Scd2Closed](
        OutputMode.Append(),
        streaming.GroupStateTimeout.NoTimeout()) {
        (id, it, state: streaming.GroupState[Scd2State]) =>
          var cur = state.getOption.orNull
          val out = Vector.newBuilder[Scd2Closed]
          it.toSeq.sortBy(_._2).foreach { case (_, d, h) =>
            if (cur == null) cur = Scd2State(1L, h, d, d)
            else if (d == cur.validTo) () // duplicate same-day arrival: first wins
            else if (d < cur.validTo)
              // a regressed day is NOT a duplicate — it violates the
              // documented per-doc day-ordering contract, and silently
              // dropping it would diverge from the stored fold (which
              // fences replays on meta.last_day). Fail the query so
              // misordered ingest is detectable, matching the batch
              // appender's behavior.
              throw new IllegalStateException(
                s"scd2Stream: doc $id arrived with day $d after folding day " +
                  s"${cur.validTo} - misordered snapshot ingest (cross-batch " +
                  "days must not regress per doc)")
            else if (h == cur.hash && d == cur.validTo + 1L)
              cur = cur.copy(validTo = d)
            else {
              out += Scd2Closed(id, cur.version, cur.hash, cur.validFrom, cur.validTo)
              cur = Scd2State(cur.version + 1L, h, d, d)
            }
          }
          if (cur != null) state.update(cur)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-user item-transition state for [[transitionStream]]. */
  final case class TransState(ts: Long, id: Long, item: Long)
  final case class TransEdge(user_id: Long, src: Long, dst: Long, ts_sec: Long)

  /** Streaming item-transition edges — the live ingest half of the
    * behavioral graph ([[graft.queries.GraphOps.transitionEdges]] is the
    * batch compactor): per user, 16 bytes of state carry the latest
    * (ts, event_id, item), and each arriving event whose item differs
    * from the carried one emits a (src, dst) edge row. Downstream a
    * windowed count per (src, dst) turns the edge stream into live
    * Markov/PageRank input; state is one row per ACTIVE user, the
    * same bound as the sessionizer.
    *
    * Same cross-batch ordering contract as the other stateful twins:
    * events fold in event-time order within a micro-batch (batch parity
    * holds when micro-batch boundaries respect event-time order); a
    * late cross-batch event chains off the carried newest item rather
    * than splicing into history — lateness changes edge attribution,
    * never edge-count conservation (exactly one edge per event after
    * the user's first when items differ).
    *
    * Input columns: user_id, ts_sec, event_id, item.
    */
  def transitionStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val outEnc = Encoders.product[TransEdge]
    implicit val stEnc = Encoders.product[TransState]
    events
      .select(col("user_id").cast("long"), col("ts_sec").cast("long"),
        col("event_id").cast("long"), col("item").cast("long"))
      .as[(Long, Long, Long, Long)](
        Encoders.product[(Long, Long, Long, Long)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[TransState, TransEdge](
        OutputMode.Append(),
        streaming.GroupStateTimeout.NoTimeout()) {
        (uid, it, state: streaming.GroupState[TransState]) =>
          var last = state.getOption.orNull
          val out = Vector.newBuilder[TransEdge]
          it.toSeq.sortBy(e => (e._2, e._3)).foreach { case (_, ts, id, item) =>
            if (last != null && last.item != item)
              out += TransEdge(uid, last.item, item, ts)
            // self-loop emits nothing but still advances the carried item
            // (matches the batch lead() semantics exactly)
            last = TransState(ts, id, item)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
      .toDF()
  }

  /** Per-user last-view state for [[attributionStream]]. */
  final case class AttribState(ts: Long, id: Long, item: Long)
  final case class AttribHit(user_id: Long, purchase_id: Long, item: Long, cents: Long)

  /** Streaming last-touch attribution — the live twin of the oracle-gated
    * batch `e_attribution`: per user, 24 bytes of state carry the latest
    * view's (ts, event_id, item); each purchase emits its revenue
    * credited to that item (-1 when no prior view). Same
    * future-never-leaks contract as the streaming as-of: a late
    * cross-batch purchase matches the carried view only if it is not
    * AHEAD of the purchase — otherwise the best in-batch view, or -1.
    *
    * Input columns: event_id, user_id, event_type ('view'/'purchase'),
    * ts_sec, item, cents.
    */
  def attributionStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, streaming}
    implicit val outEnc = Encoders.product[AttribHit]
    implicit val stEnc = Encoders.product[AttribState]
    events
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("event_type"), col("ts_sec").cast("long"),
        col("item").cast("long"), col("cents").cast("long"))
      .as[(Long, Long, String, Long, Long, Long)](
        Encoders.product[(Long, Long, String, Long, Long, Long)])
      .groupByKey(_._2)(Encoders.scalaLong)
      .flatMapGroupsWithState[AttribState, AttribHit](
        OutputMode.Append(),
        streaming.GroupStateTimeout.NoTimeout()) {
        (uid, it, state: streaming.GroupState[AttribState]) =>
          var carried = state.getOption.orNull
          var inBatch: AttribState = null
          def newer(a: AttribState, b: AttribState): Boolean =
            b == null || a.ts > b.ts || (a.ts == b.ts && a.id > b.id)
          val out = Vector.newBuilder[AttribHit]
          // views fold before purchases at the same second (at-or-before)
          it.toSeq
            .sortBy(e => (e._4, if (e._3 == "purchase") 1L else 0L, e._1))
            .foreach { case (id, _, typ, ts, item, cents) =>
              if (typ == "view") {
                val v = AttribState(ts, id, item)
                if (newer(v, inBatch)) inBatch = v
                if (newer(v, carried)) carried = v
              } else if (typ == "purchase") {
                val cands = Seq(Option(inBatch),
                  Option(carried).filter(_.ts <= ts)).flatten
                val m = cands.sortWith(newer).headOption
                out += AttribHit(uid, id, m.map(_.item).getOrElse(-1L), cents)
              }
            }
          if (carried != null) state.update(carried)
          out.result().iterator
      }
      .toDF()
  }

  // ---------------------------------------------------------------------
  // Standing erasure queue — the streaming twin of the Erasure
  // orchestrator: deletion requests (GDPR Art. 17) arrive as a stream
  // of (doc_id[, text]) rows, and each micro-batch fans out to the
  // stored-index fleet. foreachBatch's serialized execution IS the
  // indexes' single-writer contract. A crash after some families
  // advanced but before the offsets committed REPLAYS the batch, and a
  // blind re-run would double-subtract, so each batch runs under its
  // [[graft.sources.EpochLedger]] entry `batch-N.ledger`.
  // ---------------------------------------------------------------------

  /** Apply one erasure request batch under its ledger entry — the
    * foreachBatch body, exposed for the replay drill.
    */
  private[graft] def applyErasureBatch(
      batch: DataFrame, targets: graft.queries.Erasure.DocTargets,
      ledgerDir: String, batchId: Long): Unit = {
    import graft.queries.Erasure
    val todo = EpochLedger.pending(EpochLedger.batch(ledgerDir, batchId, ".ledger"),
      "doc", EpochLedger.legs(targets.ordered))
    if (todo.nonEmpty && !batch.isEmpty)
      Erasure.runDocFamilies(batch, todo)
    EpochLedger.prune(ledgerDir, batchId)
  }

  /** The USER-GRAIN batch applier — same ledger over
    * [[graft.queries.Erasure.forgetUsers]]; `events` supplies the
    * forgotten users' event slice when the transition graph is
    * targeted (forgetUsers semi-joins it to the batch's users).
    */
  private[graft] def applyUserErasureBatch(
      batch: DataFrame, targets: graft.queries.Erasure.UserTargets,
      events: Option[DataFrame], ledgerDir: String, batchId: Long): Unit = {
    import graft.queries.Erasure
    val todo = EpochLedger.pending(EpochLedger.batch(ledgerDir, batchId, ".ledger"),
      "user", EpochLedger.legs(targets.ordered))
    if (todo.nonEmpty && !batch.isEmpty)
      Erasure.runUserFamilies(batch, todo,
        userEvs = if (todo.exists(_.tag == "transition")) events else None)
    EpochLedger.prune(ledgerDir, batchId)
  }

  /** Start the standing erasure queue over a streaming frame of
    * requests (`doc_id`, plus `text` when the shingle index is
    * targeted). The checkpoint carries both the source offsets and the
    * epoch ledger, so a restart resumes mid-batch without
    * double-subtracting. Settled ledger entries are pruned as batches
    * commit, so the ledger holds at most the in-flight batch.
    *
    * The stream must be the index fleet's only writer while it runs,
    * exactly the IndexManifest contract: an OUT-OF-BAND writer landing
    * between a crash and the replay (e.g. a maintenance compaction)
    * fails the replay loudly instead of letting it skip that family.
    */
  def erasureStream(
      requests: DataFrame, targets: graft.queries.Erasure.DocTargets,
      checkpointDir: String): StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyErasureBatch(batch, targets, s"$checkpointDir/ledger", batchId)
      }
      .start()

  /** The standing erasure queue at USER grain — the grain GDPR
    * requests actually arrive at: each micro-batch of (user_id) rows
    * fans out to the user-grain fleet (co-occurrence, transition
    * graph, the zone-mapped event table) under the same ledger and
    * single-writer contract as [[erasureStream]].
    * `events` is the source log the transition subtraction reads its
    * slices from (bound at construction; it must cover the forgotten
    * users' complete history — the [[graft.queries.Erasure
    * .forgetUsers]] contract); pass None when transition is not
    * targeted.
    */
  def userErasureStream(
      requests: DataFrame, targets: graft.queries.Erasure.UserTargets,
      events: Option[DataFrame], checkpointDir: String): StreamingQuery = {
    require(targets.transition.isEmpty || events.nonEmpty,
      "transition-graph erasure needs the source events frame")
    requests.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUserErasureBatch(batch, targets, events,
          s"$checkpointDir/ledger", batchId)
      }
      .start()
  }

  /** Fold one ingest batch into the event table as one epoch — the
    * foreachBatch body, exposed for the replay drill. The single-family
    * ingest body over [[graft.sources.StoredIndex.Layout]]: a replayed
    * committed batch would fold its rows in twice.
    */
  private[graft] def applyEventTableBatch(
      batch: DataFrame, path: String, ledgerDir: String, batchId: Long,
      nFiles: Int = 4): Unit =
    applyIngestBatch(batch, EpochLedger.Leg("table", path),
      graft.queries.LayoutOps.appendEventTable(_, path, nFiles), ledgerDir, batchId, ".ledger")

  /** ONLINE ANN SERVING — the request-side twin of the stored-index
    * cascade (`v_cascade_from_index` is the oracle-gated batch special
    * case of the same [[graft.queries.VectorOps.searchBqIndex]] path):
    * each micro-batch of (query_id, embedding) requests is answered
    * top-k from the committed BQ words (8 B/vector Hamming screen,
    * tombstone-resolved) + exact float rerank against `corpus`, and the
    * batch's results land as ONE overwrite-mode directory
    * `outPath/batch=<id>` — a replayed batch overwrites its own
    * directory, so delivery is exactly-once without a ledger (the
    * idempotent-sink half of the discipline; the table/erasure streams
    * need the ledger because their folds are not idempotent).
    *
    * Staleness contract: the serve FOLLOWS the index's committed
    * manifest — each micro-batch re-resolves the committed state (the
    * foreachBatch body calls searchBqIndex, which reads the manifest
    * per call), so an appendBqIndex/deleteFromBqIndex fold that
    * commits mid-stream is served from the NEXT batch on, no restart
    * (spec'd in StreamsSpec's mid-stream-append drill). Pass `asOf`
    * to PIN the serve to one committed epoch instead — replayable
    * serving for an audit window (register the pin in the index's pin
    * ledger, [[graft.sources.IndexManifest.registerPin]], so a
    * concurrent vacuum skips it instead of racing the stream). The
    * `corpus` float store still binds at construction: it is the
    * caller's frame, not a manifest this stream can re-resolve — keep
    * it ahead of the index's ids (the rerank drops candidates with no
    * float row, the same fail-closed direction as the cascade's
    * coverage contract). `keepPairs` — per-request (query_id, vec_id)
    * eligibility pushed into the cheapest tier's screen join
    * ([[graft.queries.VectorOps.searchBqIndex]]) — binds at
    * construction the same way: a standing eligibility relation
    * (tenant / language / license) that each batch's requests key
    * into by query_id; same contract on the other two serve streams.
    * Absent-request contract ([[graft.queries.VectorOps
    * .keepPairsFrom]]): a request whose query_id never appears in the
    * relation is served ZERO candidates — not served unfiltered.
    *
    * `keepPairsPer` is the EPOCH-FOLLOWING form of the same filter for
    * a standing deployment whose attributes table EVOLVES: a function
    * from the micro-batch's requests to that batch's eligibility
    * relation, invoked INSIDE foreachBatch — so a relation built from
    * a fresh read of the attrs store (e.g. `batch =>
    * keepPairsFrom(batch, batch.sparkSession.read.parquet(attrs), …)`)
    * picks up attribute changes within one batch, exactly as the index
    * reads follow the committed manifest. Mutually exclusive with the
    * static `keepPairs` (same contract on the other two serve streams).
    */
  def annServeStream(
      requests: DataFrame, bqIndexPath: String, corpus: DataFrame,
      outPath: String, checkpointDir: String,
      k: Long = graft.queries.VectorOps.topK,
      screen: Long = graft.queries.VectorOps.cascadeC1,
      trigger: Option[Trigger] = None,
      asOf: Option[Long] = None,
      keepPairs: Option[DataFrame] = None,
      keepPairsPer: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    require(keepPairs.isEmpty || keepPairsPer.isEmpty,
      "pass keepPairs (static relation) OR keepPairsPer (rebuilt per batch), not both")
    val w = requests.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.VectorOps.searchBqIndex(batch, bqIndexPath, corpus, k, screen,
          asOf = asOf, keepPairs = keepPairsPer.map(_(batch)).orElse(keepPairs))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** ONLINE IVF-PQ SERVING — the refine funnel as a standing request
    * stream ([[annServeStream]]'s discipline over
    * [[graft.queries.VectorOps.searchIvfPqRefined]]): each micro-batch
    * of (query_id, embedding) requests probes the committed IVF-PQ
    * index (cell-pruned ADC to top-`c`), exact-float-reranks the short
    * list to top-`k` against `corpus`, and lands as ONE overwrite-mode
    * directory `outPath/batch=<id>` — idempotent replay, no ledger
    * (the sink rewrites only its own batch directory). Request ids are
    * their own space (`excludeSelf = false`), so a request whose id
    * collides with a stored vec_id still sees that vector as a
    * candidate. Staleness contract as [[annServeStream]]: the serve
    * follows the committed manifest per batch (an index fold is served
    * from the next batch on), `asOf` pins one epoch for replayable
    * serving; the `corpus` float store binds at construction (the
    * caller's frame — keep it ahead of the index's ids).
    */
  def ivfPqServeStream(
      requests: DataFrame, ivfPqIndexPath: String, corpus: DataFrame,
      outPath: String, checkpointDir: String,
      k: Long = graft.queries.VectorOps.topK,
      c: Long = graft.queries.VectorOps.refineC,
      trigger: Option[Trigger] = None,
      asOf: Option[Long] = None,
      keepPairs: Option[DataFrame] = None,
      keepPairsPer: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    require(keepPairs.isEmpty || keepPairsPer.isEmpty,
      "pass keepPairs (static relation) OR keepPairsPer (rebuilt per batch), not both")
    val w = requests.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.VectorOps.searchIvfPqRefined(
          batch.sparkSession, ivfPqIndexPath, batch, corpus, k, c,
          asOf = asOf, excludeSelf = false,
          keepPairs = keepPairsPer.map(_(batch)).orElse(keepPairs))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** ONLINE 3-TIER CASCADE SERVING — the stored BQ screen + stored-SQ8
    * rerank + exact refine ([[graft.queries.VectorOps
    * .searchCascadeIndex]]) under standing request traffic, completing
    * the serving matrix (BQ 2-tier [[annServeStream]], IVF-PQ funnel
    * [[ivfPqServeStream]], and this — the cheapest-screen/fewest-float-
    * fetches shape). Same idempotent per-batch overwrite sink, same
    * own-id-space request semantics, same per-batch epoch-following
    * staleness contract as [[annServeStream]] — with the cross-TIER
    * caveat spelled out: each batch reads both artifacts' committed
    * heads independently, so a paired fold landing mid-stream can
    * leave one batch straddling the two commits; the coverage contract
    * fail-closes exactly the straddled vectors for that one batch
    * (served from the next), and [[graft.queries.VectorOps
    * .appendCascadeDurable]] keeps the window one-batch-narrow. For a
    * snapshot-consistent replayable serve, pin BOTH epochs
    * (`bqAsOf`/`sq8AsOf` — a recorded pair replays the exact serve,
    * the Sq8IndexSpec time-travel drill).
    */
  def cascadeServeStream(
      requests: DataFrame, bqIndexPath: String, sq8IndexPath: String,
      corpus: DataFrame, outPath: String, checkpointDir: String,
      k: Long = graft.queries.VectorOps.topK,
      screen: Long = graft.queries.VectorOps.cascadeC1,
      refine: Long = graft.queries.VectorOps.cascadeC2,
      trigger: Option[Trigger] = None,
      bqAsOf: Option[Long] = None, sq8AsOf: Option[Long] = None,
      keepPairs: Option[DataFrame] = None,
      keepPairsPer: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    require(keepPairs.isEmpty || keepPairsPer.isEmpty,
      "pass keepPairs (static relation) OR keepPairsPer (rebuilt per batch), not both")
    val w = requests.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.VectorOps.searchCascadeIndex(
          batch, bqIndexPath, sq8IndexPath, corpus, k, screen, refine,
          bqAsOf = bqAsOf, sq8AsOf = sq8AsOf,
          keepPairs = keepPairsPer.map(_(batch)).orElse(keepPairs))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** ONLINE HYBRID SERVING — per-request-filtered hybrid retrieval
    * ([[graft.queries.SearchOps.hybridSearchBatchFromIndexes]]) as a
    * standing request stream, completing the serving matrix's fourth
    * tier (BQ 2-tier, IVF-PQ funnel, 3-tier cascade, and now
    * sparse+dense fusion). Each micro-batch of (query_id, embedding)
    * requests retrieves from BOTH stored indexes — one bucket-pruned
    * BM25 pass over the postings for the shared `terms`, a cell-pruned
    * ADC pass over the IVF-PQ codes — and fuses per request with
    * exact-integer RRF; results land as one overwrite-mode
    * `batch=<id>` directory (idempotent replay, no ledger — the
    * annServeStream discipline). Same per-batch epoch-following
    * staleness contract as the other serve streams (both legs read
    * their manifests per call; independent `asOfSparse`/`asOfDense`
    * pins replay a recorded retrieval).
    *
    * ELIGIBILITY IS MANDATORY here: the batched hybrid is the
    * per-request-filtered form (its unfiltered relation would be a
    * corpus x batch cross) — pass a standing `keepPairs` relation the
    * batch's requests key into, or `keepPairsPer` to rebuild it per
    * micro-batch from an evolving attributes store (the
    * [[annServeStream]] contract). Requests' ids are their own space
    * (`excludeSelf = false`): a numeric collision with a stored vec_id
    * keeps that legitimate dense candidate. Absent-request contract as
    * everywhere: a query_id missing from the relation is served zero
    * candidates.
    */
  def hybridServeStream(
      requests: DataFrame, postingsPath: String, ivfPqPath: String,
      terms: Seq[String], outPath: String, checkpointDir: String,
      k: Int = 10,
      trigger: Option[Trigger] = None,
      asOfSparse: Option[Long] = None, asOfDense: Option[Long] = None,
      keepPairs: Option[DataFrame] = None,
      keepPairsPer: Option[DataFrame => DataFrame] = None): StreamingQuery = {
    require(keepPairs.isEmpty || keepPairsPer.isEmpty,
      "pass keepPairs (static relation) OR keepPairsPer (rebuilt per batch), not both")
    require(keepPairs.nonEmpty || keepPairsPer.nonEmpty,
      "hybrid serving is per-request filtered by construction - pass keepPairs " +
        "or keepPairsPer (an unfiltered batch would build a corpus x batch relation; " +
        "for unfiltered one-off queries use hybridSearchFromIndexes)")
    val w = requests.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.queries.SearchOps.hybridSearchBatchFromIndexes(
          batch.sparkSession, postingsPath, ivfPqPath, terms, batch, k,
          keepPairs = keepPairsPer.map(_(batch)).orElse(keepPairs).get,
          asOfSparse = asOfSparse, asOfDense = asOfDense,
          excludeSelf = false)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
    trigger.fold(w)(w.trigger).start()
  }

  // ---------------------------------------------------------------------
  // Standing cascade ingest — the third leg of the stored cascade's
  // streaming lifecycle (serve: cascadeServeStream; forget:
  // erasureStream/userErasureStream; this: append). Each micro-batch of
  // (vec_id, embedding) deltas lands in BOTH tiers through
  // [[graft.queries.VectorOps.appendCascadeDurable]] under a PER-BATCH
  // intent root `batch-N`, so the replay hazards compose into the
  // paired append's own protocol: a completed root makes the replay a
  // no-op (a blind re-append would violate the appenders' new-ids-only
  // contract), and a pending intent routes it to
  // [[graft.queries.VectorOps.resumeAppendCascade]]. Caller contract
  // unchanged from the batch appenders: new vec_ids only, across the
  // stream's lifetime.
  // ---------------------------------------------------------------------

  /** Apply one vector-delta batch under the per-batch intent root —
    * the foreachBatch body, exposed for the replay and crash drills
    * (`failAfter` threads through to the durable append's planted
    * crash between the two tier appends).
    *
    * `dedupIds = true` anti-joins the arriving ids against BOTH tiers'
    * stored id sets before staging — the appenders' new-ids-only
    * contract enforced at the stream boundary, so an at-least-once
    * upstream redelivering a vec_id in a LATER batch (different
    * batchId — the per-batch ledger can't see it) doesn't fan
    * duplicate candidates into tier 2. Both tiers are consulted so a
    * diverged pair (one-tier orphan) still counts as "existing".
    * Deterministic under replay: the filter runs against index state
    * that only changes AFTER the intent persists, and a replay with a
    * pending intent resumes from the staged delta, never re-filters.
    * Scope: a CROSS-batch guard. Within one batch the caller owns id
    * uniqueness (the batch appenders' contract, unchanged) — collapsing
    * same-id-different-embedding rows has no right answer.
    */
  private[graft] def applyCascadeIngestBatch(
      batch: DataFrame, bqPath: String, sq8Path: String,
      ledgerRoot: String, batchId: Long,
      failAfter: Int = Int.MaxValue, dedupIds: Boolean = false): Unit = {
    // the root is created by the durable append itself (delta staging);
    // an empty batch leaves no root at all, so nothing lingers
    val root = EpochLedger.batch(ledgerRoot, batchId).toString
    if (EpochLedger.isCompleted(root)) ()
    else if (EpochLedger.isOpen(root))
      graft.queries.VectorOps.resumeAppendCascade(batch.sparkSession, root)
    else if (!dedupIds) {
      if (!batch.isEmpty)
        graft.queries.VectorOps.appendCascadeDurable(
          batch, bqPath, sq8Path, root, failAfter)
    } else {
      val s = batch.sparkSession
      val stored = StoredIndex.Bq.resolved(s, bqPath)
        .select("vec_id")
        .union(StoredIndex.Sq8.resolved(s, sq8Path)
          .select("vec_id"))
      // persist so the emptiness probe and the append's delta staging
      // evaluate the guard ONCE — each tier's id column is scanned one
      // time per batch, as the stream starter's cost note promises
      val delta = batch.join(stored, Seq("vec_id"), "left_anti").persist()
      try {
        if (delta.count() > 0L)
          graft.queries.VectorOps.appendCascadeDurable(
            delta, bqPath, sq8Path, root, failAfter)
      } finally delta.unpersist()
    }
    EpochLedger.prune(ledgerRoot, batchId)
  }

  /** Start the standing cascade ingest over a streaming frame of
    * vector deltas (`vec_id`, `embedding`). Both stored artifacts must
    * exist ([[graft.queries.VectorOps.writeBqIndex]]/`writeSq8Index`);
    * the checkpoint carries source offsets + the per-batch intent
    * ledger. Pairs with [[cascadeServeStream]]: its per-batch
    * epoch-following contract means a delta landed by batch N here is
    * served by the NEXT request batch there, and the paired append
    * keeps the serve's cross-tier straddle window one-batch-narrow.
    * `dedupIds` turns on the cross-batch redelivery guard (see
    * [[applyCascadeIngestBatch]]) at the price of one id-column scan
    * of each tier per batch.
    */
  def cascadeIngestStream(deltas: DataFrame, bqPath: String, sq8Path: String,
      checkpointDir: String, trigger: Option[Trigger] = None,
      dedupIds: Boolean = false): StreamingQuery = {
    val w = deltas.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCascadeIngestBatch(
          batch, bqPath, sq8Path, s"$checkpointDir/ledger", batchId,
          dedupIds = dedupIds)
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** Standing decayed-trending counts — the streaming half of the
    * catalog's `e_trending_decay`: the score's sufficient statistic is
    * the per-(item, calendar-day) event counts ([[graft.queries
    * .EventAnalytics.trendingDayCountsOn]] — counts are a monoid; the
    * head-relative ages are not), so the stream maintains exactly
    * those in update mode and the scorer runs batch-side over the
    * materialized counts ([[graft.queries.EventAnalytics
    * .trendingScoreOf]] — one tiny frame, items x observed days).
    * State: O(items x observed days) count cells; the unbounded twin
    * keeps every bucket so parity with the batch row is bit-exact over
    * ANY replay, including one that delivers arbitrarily old events
    * late. [[trendingDayCountsStreamBounded]] is the opt-in
    * bounded-state variant for corpora whose history outgrows that.
    */
  def trendingDayCountsStream(events: DataFrame): DataFrame =
    graft.queries.EventAnalytics.trendingDayCountsOn(events)

  /** BOUNDED-STATE decayed-trending counts — the watermark-collapsed
    * opt-in: day buckets are event-time windows and state older than
    * `63 half-lives + lateDays` behind the stream's head is EVICTED.
    * Sound because the decay weight of such a bucket is EXACTLY zero
    * — `e_trending_decay`'s integer formulation floors `1e6 div 2^k`
    * to 0 at k >= 63 half-lives, by construction not approximation —
    * so the score over the emitted counts is provably unchanged: an
    * evicted bucket was already emitted (update mode emits on every
    * change; eviction stops future updates that could only land in a
    * zero-weight cell), and a late event the watermark drops could
    * only have incremented a zero-weight cell. State becomes
    * O(items x 63·halfLife) regardless of stream lifetime.
    *
    * The trade against the exact twin: a bucket can stop absorbing
    * late arrivals `lateDays` short of its weight hitting zero (the
    * standard watermark-lateness knob); those arrivals were weight-0
    * at the head anyway the moment the watermark passed them.
    */
  def trendingDayCountsStreamBounded(events: DataFrame,
      lateDays: Long = 1L): DataFrame = {
    // lateDays >= 1 also absorbs the <= 1-day skew the day-grain
    // bucketing below introduces between the raw head and the bucketed
    // watermark, keeping the eviction horizon provably past 63
    // half-lives of RAW event-time age
    require(lateDays >= 1L, s"lateDays must be >= 1 (got $lateDays)")
    val horizonDays =
      63L * graft.queries.EventAnalytics.trendHalfLifeDays + lateDays
    graft.queries.EventAnalytics.eventsWithItemOn(events)
      // bucket to the EXACT twin's day FIRST (ts_sec div 86400 — Spark
      // div truncates toward zero), then window over the bucketed
      // timestamp: window(ts, '1 day') alone FLOORS, which buckets a
      // negative (pre-epoch) ts_sec into a different day than the
      // batch twin (ts_sec = -1 would land in day -1 instead of the
      // twin's day 0 and then be dropped outright). DOMAIN EDGE that
      // no watermark arithmetic can repair: Spark's initial watermark
      // is floored at epoch 0, so a window ending <= 0 — any STRICTLY
      // NEGATIVE day — is dropped as late on arrival regardless of the
      // configured delay. Corpora with pre-1970 event days near their
      // head need the exact unbounded twin; this variant's parity
      // domain is day >= 0 (spec-pinned, including the ts_sec in
      // [-86399, -1] boundary that the div-bucketing keeps).
      .withColumn("ts", timestamp_seconds(expr("(ts_sec div 86400) * 86400")))
      .withWatermark("ts", s"$horizonDays days")
      .groupBy(col("item"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("item"), expr("CAST(w.start AS LONG) div 86400").as("day"),
        col("cnt"))
  }

  /** Standing weighted sample — the streaming twin of the catalog's
    * `t_weighted_sample`: an exact-k weighted-without-replacement
    * sample of EVERYTHING the stream has seen so far, re-emitted (in
    * update mode) on every non-empty micro-batch — Spark marks the
    * single global group updated whether or not an arrival displaced a
    * member, so consumers must diff emissions themselves if they only
    * want changes. Sound
    * because the draw key is a pure per-row function (min of the
    * weight's salted copy hashes — [[graft.queries.CurationOps
    * .weightedDrawKeyed]]) and "keep the k smallest keys" is a monoid:
    * partial top-ks merge associatively, so the streaming aggregation
    * state is ONE bounded k-element buffer ([[graft.functions
    * .TopKAggregator]] with the key negated — its count-desc order
    * becomes draw-key-asc), not the stream's history. At any cut-off
    * the emitted sample equals the batch row over exactly the rows
    * ingested so far — the property a monitoring sample of an
    * unbounded corpus ingest needs (inspect 60 representative docs of
    * "the corpus so far" at any moment, weights and all).
    *
    * Output: one row per update, `sample` = array of (key = doc_id,
    * cnt = -draw_key) structs, best (smallest key) first — kept in the
    * aggregator's wire shape; [[weightedSampleOf]] unpacks a batch of
    * it. No watermark: the sample is over all history by design, and
    * the state is O(k) regardless.
    */
  def weightedSampleStream(docs: DataFrame, k: Int = graft.queries.CurationOps.weightedK): DataFrame = {
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    graft.queries.CurationOps.weightedDrawKeyed(docs)
      .select(col("doc_id").as("key"), (-col("draw_key")).as("cnt"))
      .agg(topk(col("key"), col("cnt")).as("sample"))
      // membership fingerprint: a hash of the SORTED key array (hashed
      // natively — no serialization detour), so a consumer can tell
      // "the k-set changed" from "Spark re-emitted the touched group"
      // without diffing k rows — the change-suppressing sink keys off
      // exactly this column
      .withColumn("sample_fp",
        xxhash64(expr("array_sort(transform(sample, x -> x.key))")))
  }

  /** [[weightedSampleStream]] with CHANGE SUPPRESSION at the sink:
    * update mode re-emits the single global group on every non-empty
    * micro-batch whether or not an arrival displaced a member (a
    * redelivery-heavy ingest emits constantly while the k-set never
    * moves), so this sink compares the emitted `sample_fp` against the
    * last WRITTEN one (persisted tmp+rename next to the batch dirs)
    * and writes `outPath/batch=<id>` only when the MEMBERSHIP actually
    * changed. Replay-safe both ways: a replayed suppressed batch
    * recomputes the same fingerprint and suppresses again; a replayed
    * written batch overwrites its own directory and re-persists the
    * same marker. The marker is written AFTER the batch directory, so
    * a crash between the two re-writes (idempotent) rather than
    * suppresses a never-landed change. Consumers read the latest
    * batch dir as "the sample now"; its absence for a batch id means
    * "unchanged since the previous one" by construction.
    */
  def weightedSampleChangedStream(docs: DataFrame, outPath: String,
      checkpointDir: String, k: Int = graft.queries.CurationOps.weightedK,
      trigger: Option[Trigger] = None): StreamingQuery = {
    import graft.sources.LedgerIO
    val w = weightedSampleStream(docs, k).writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one row (global aggregate), k-bounded — the collect is O(k)
        batch.collect().headOption.foreach { row =>
          val fp = row.getAs[Long]("sample_fp")
          val marker = LedgerIO.child(outPath, "_last_fp")
          val last = LedgerIO.readIfExists(marker).map(_.trim.toLong)
          if (!last.contains(fp)) {
            batch.sparkSession.createDataFrame(
              java.util.List.of(row), batch.schema)
              .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
            LedgerIO.writeAtomic(marker, s"._last_fp.$batchId.tmp", s"$fp\n")
          }
        }
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** Unpack one emitted [[weightedSampleStream]] row batch into
    * (doc_id, draw_key) rows — batch-side (foreachBatch/memory sink),
    * where generators after a streaming aggregate are unrestricted.
    */
  def weightedSampleOf(batch: DataFrame): DataFrame =
    batch
      .select(explode(col("sample")).as("s"))
      .select(col("s.key").as("doc_id"), (-col("s.cnt")).as("draw_key"))

  /** Apply one delta batch to a single stored family — the foreachBatch
    * body, exposed for the replay/crash drills. `append` is the
    * family's appender partially applied to its root (e.g.
    * `SearchOps.appendPostingsIndex(_, path)`); `committedEpoch` reads
    * the same root with the family's format pin. The batch's ledger
    * entry is `batch-N.epoch`; its one leg, `index`, records no root
    * path, since the stream is given only the epoch reader.
    */
  private[graft] def applyIndexIngestBatch(
      batch: DataFrame, committedEpoch: () => Long, append: DataFrame => Unit,
      ledgerRoot: String, batchId: Long): Unit =
    applyIngestBatch(batch, EpochLedger.Leg("index", "(caller-bound root)", committedEpoch),
      append, ledgerRoot, batchId, ".epoch")

  /** The single-family ingest body: one leg under the batch's ledger
    * entry `batch-N<ext>`, at most one committed epoch per batch. The
    * entry persists even for an empty batch (emptiness is a property of
    * the replayed data, not of this run), and an empty batch commits no
    * epoch.
    */
  private def applyIngestBatch(batch: DataFrame, leg: EpochLedger.Leg,
      append: DataFrame => Unit, ledgerDir: String, batchId: Long, ext: String): Unit = {
    val entry = EpochLedger.batch(ledgerDir, batchId, ext)
    if (EpochLedger.pending(entry, "ingest", Seq(leg)).nonEmpty && !batch.isEmpty)
      append(batch)
    EpochLedger.prune(ledgerDir, batchId)
  }

  /** Start a standing ingest into ONE stored index family: each
    * micro-batch becomes (at most) one committed epoch via the family's
    * own appender, exactly-once under the per-batch ledger entry.
    * Callers supply the appender and the epoch reader bound to the same
    * root, e.g. for the positional postings index:
    * {{{
    * Streams.indexIngestStream(docs,
    *   () => IndexManifest.committedEpoch(path, IndexManifest.Postings),
    *   SearchOps.appendPostingsIndex(_, path), ckpt)
    * }}}
    * Caller contract is the appender's own (new ids only across the
    * stream); the BQ+SQ8 pair has its own paired protocol
    * ([[cascadeIngestStream]]) — do not point two of these at the two
    * halves of a cascade, a crash between their independent commits is
    * exactly the divergence the paired intent root exists to close.
    */
  def indexIngestStream(deltas: DataFrame, committedEpoch: () => Long,
      append: DataFrame => Unit, checkpointDir: String,
      trigger: Option[Trigger] = None): StreamingQuery = {
    val w = deltas.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIndexIngestBatch(
          batch, committedEpoch, append, s"$checkpointDir/ledger", batchId)
      }
    trigger.fold(w)(w.trigger).start()
  }

  /** Start the standing table ingest over a streaming frame of events
    * (the [[graft.sources.Tables.events]] shape: `ts_sec`, `user_id`,
    * the payload columns). The table must exist
    * ([[graft.queries.LayoutOps.writeEventTable]]); the checkpoint
    * carries source offsets + the epoch ledger.
    */
  def eventTableStream(events: DataFrame, path: String,
      checkpointDir: String, nFiles: Int = 4): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", s"$checkpointDir/offsets")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyEventTableBatch(batch, path, s"$checkpointDir/ledger", batchId, nFiles)
      }
      .start()
}
