package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.UserBehavior
import graft.operators.Windowed
import graft.sources.{Fixtures, StoredIndex}

/** events-table row shape for the funnel parity test (top-level so the
  * MemoryStream encoder derives).
  */
final case class FunnelEv(event_id: Long, user_id: Long, event_type: String, ts_sec: Long)

/** Streaming windowed aggregations: parity with the batch operators over
  * the reference fixture.
  */
class StreamsSpec extends SparkSpec {

  private lazy val behaviors =
    Fixtures
      .userBehavior(spark, s"$refBase/HotItemsAnalysis/src/main/resources/UserBehaviorTest.csv")
      .collect()
      .sortBy(_.timestamp)

  test("streaming hot-item counts converge to the batch aggregate (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[UserBehavior]
    // update mode re-emits changed (window, item) rows; keep the latest per key
    val latest = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val q = Streams
      .hotItemCounts(mem.toDS())
      .writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach { r =>
          latest.synchronized {
            latest((r.getAs[Long]("windowEnd"), r.getAs[Long]("itemId"))) = r.getAs[Long]("cnt")
          }
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-hotitems").toString)
      .start()
    try {
      val (h1, h2) = behaviors.splitAt(behaviors.length / 2)
      mem.addData(h1.toSeq)
      q.processAllAvailable()
      mem.addData(h2.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val batch = Windowed
      .hotItems(spark.createDataset(behaviors.toSeq), topN = Int.MaxValue)
      .select("windowEnd", "itemId", "cnt")
      .collect()
      .map(r => (r.getAs[Long]("windowEnd"), r.getAs[Long]("itemId")) -> r.getAs[Long]("cnt"))
      .toMap
    assert(latest.toMap === batch)
  }

  test("streaming top-N re-rank matches the batch golden window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[UserBehavior]
    val latestTop = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Int)]]
    val q = Streams
      .hotItemsTopN(mem.toDS(), topN = 3) { (ranked, _) =>
        ranked.collect().groupBy(_.getAs[Long]("windowEnd")).foreach { case (we, rows) =>
          latestTop.synchronized {
            latestTop(we) = rows.toSeq.map(r =>
              (r.getAs[Long]("itemId"), r.getAs[Long]("cnt"), r.getAs[Int]("rank")))
          }
        }
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-topn").toString)
      .start()
    try {
      mem.addData(behaviors.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // README golden window (09:05 CST): 1715:2, 2244074:2, 3611281:1
    val golden = latestTop(1511658300000L).map(t => t._1 -> t._2).toMap
    assert(golden === Map(1715L -> 2L, 2244074L -> 2L, 3611281L -> 1L))
  }

  test("streaming pageViews appends finalized windows after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[UserBehavior]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Streams
      .pageViews(mem.toDS())
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => got.synchronized {
          got += ((r.getAs[Long]("windowEnd"), r.getAs[Long]("count")))
        })
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-pv").toString)
      .start()
    try {
      mem.addData(behaviors.toSeq)
      q.processAllAvailable()
      // watermark is now at the max event time (1511661600); the first
      // 1h window [00:00, 01:00) closed exactly there — one more batch emits it
      mem.addData(Seq.empty[UserBehavior])
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet === Set((1511661600000L, 9L)))
  }

  test("lateAudit flags cross-batch stragglers, passes in-batch disorder") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[UserBehavior]
    val late = scala.collection.mutable.ArrayBuffer.empty[UserBehavior]
    val q = Streams
      .lateAudit(mem.toDS(), latenessSec = 60, buckets = 4)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[UserBehavior], _: Long) =>
        late.synchronized { late ++= b.collect() }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-late").toString)
      .start()
    try {
      // batch 1: out-of-order WITHIN the batch - nothing is late yet
      mem.addData(Seq(
        UserBehavior(1, 10, 1, "pv", 1000),
        UserBehavior(1, 11, 1, "pv", 500),
        UserBehavior(5, 12, 1, "pv", 900)))
      q.processAllAvailable()
      assert(late.isEmpty)
      // batch 2: one straggler >60s behind user-1-bucket's max (1000),
      // one merely slightly behind (not late), one fresh
      mem.addData(Seq(
        UserBehavior(1, 13, 1, "pv", 800),  // 200 behind -> late
        UserBehavior(1, 14, 1, "pv", 980),  // 20 behind -> fine
        UserBehavior(1, 15, 1, "pv", 2000)))
      q.processAllAvailable()
      assert(late.map(_.itemId).toSet === Set(13L))
    } finally q.stop()
  }

  test("session_window sessionization agrees with the batch lag-based formulation") {
    import spark.implicits._
    // run both formulations over the events table (sf0.001)
    val events = graft.sources.Tables.eventsTimed(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("event_time", "eventTime")
    val viaSessionWindow = Streams.sessionize(events, gapSec = 21600)
      .select("user_id", "start_sec", "end_sec", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val viaLag = graft.queries.EventAnalytics.sessionize
      .spark(spark, "/root/testdata/sf0.001")
      .select("user_id", "start_sec", "end_sec", "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(viaSessionWindow === viaLag)
    assert(viaSessionWindow.nonEmpty)
  }

  test("sessionize live: a bridging event merges pending sessions; the watermark finalizes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Long, Long)] // (user_id, sec)
    val done = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val src = mem.toDF().toDF("user_id", "sec")
      .withColumn("eventTime", timestamp_seconds(col("sec")))
      .withWatermark("eventTime", "300 seconds")
    val q = Streams.sessionize(src, gapSec = 60)
      .select("user_id", "start_sec", "end_sec", "n_events")
      .writeStream
      .outputMode("append") // sessions emit exactly once, when closed
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        done.synchronized {
          done ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-sess").toString)
      .start()
    try {
      // batch 1: two DISJOINT pending sessions for user 1 — [100,160) and
      // [220,280) don't touch (160 < 220) — plus user 2's singleton
      mem.addData(Seq((1L, 100L), (1L, 220L), (2L, 100L)))
      q.processAllAvailable()
      assert(done.isEmpty, "nothing may emit while sessions are open")
      // batch 2: 130 and 170 bridge the two windows ([130,190) overlaps
      // both [100,160) and [170,230), which overlaps [220,280)) — the
      // state store must MERGE all four events into one pending session
      mem.addData(Seq((1L, 130L), (1L, 170L)))
      q.processAllAvailable()
      assert(done.isEmpty)
      // batch 3: watermark jumps to 1000-300=700 > 280 — both users'
      // sessions close; end_sec is the LAST EVENT (window end minus gap)
      mem.addData(Seq((1L, 1000L)))
      q.processAllAvailable()
      assert(done.toSet === Set((1L, 100L, 220L, 4L), (2L, 100L, 100L, 1L)))
    } finally q.stop()
  }

  test("ivfAssignStream routes live vectors to the same cells as the batch assignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.registerDotD(spark)

    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val centroids = emb.filter(col("vec_id") < 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val batch = graft.queries.VectorOps.ivfCells(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap

    val all = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Map.empty[Long, Long]
    val q = Streams.ivfAssignStream(mem.toDF().toDF("vec_id", "embedding"), centroids)
      .writeStream
      .outputMode("append") // stateless projection: append needs no watermark
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got.synchronized { b.collect().foreach(r => got(r.getLong(0)) = r.getLong(1)) }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-ivf").toString)
      .start()
    try {
      val (h1, h2) = all.splitAt(all.length / 2)
      mem.addData(h1.toIndexedSeq); q.processAllAvailable()
      mem.addData(h2.toIndexedSeq); q.processAllAvailable()
      assert(got.size === batch.size)
      assert(got.toMap === batch, "stream routing diverged from the batch assignment")
    } finally q.stop()
  }

  test("indexDriftStream: in-distribution window is quiet, drifted window alerts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.registerDotD(spark)
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextGaussian() * 0.001).toFloat)
    val cents = (0 until 16).map(i => (i.toLong, vec()))
    // stored base shares: uniform 10 vectors/cell -> 62_500 ppm each
    val baseShares = (0L until 16L).map(c => c -> 62500L)
    // window A (in-distribution): 2 vectors per cell; window B: all on cell 5
    val winA = (0 until 32).map(i =>
      ((100 + i).toLong, jitter(cents(i % 16)._2), (i * 10).toLong))
    val winB = (0 until 32).map(i =>
      ((200 + i).toLong, jitter(cents(5)._2), (3600 + i * 10).toLong))
    val flush = Seq((999L, jitter(cents(0)._2), 99999L))

    val mem = MemoryStream[(Long, Array[Float], Long)]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = Streams.indexDriftStream(
        mem.toDF().toDF("vec_id", "embedding", "ts")
          .withColumn("eventTime", timestamp_seconds(col("ts"))),
        cents, baseShares, windowSec = 3600L,
        eventTimeCol = "eventTime", delay = "0 seconds")
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        rows.synchronized {
          rows ++= b.collect().map(r => (
            r.getStruct(0).getTimestamp(0).getTime / 1000,
            r.getAs[Long]("n_delta"), r.getAs[Long]("tv_ppm")))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-drift").toString)
      .start()
    try {
      mem.addData(winA); q.processAllAvailable()
      mem.addData(winB); q.processAllAvailable()
      mem.addData(flush); q.processAllAvailable()
      val byWin = rows.map(r => r._1 -> ((r._2, r._3))).toMap
      assert(byWin.keySet === Set(0L, 3600L), s"two finalized windows: $rows")
      assert(byWin(0L) === ((32L, 0L)), "in-distribution window must be quiet")
      assert(byWin(3600L) === ((32L, 937500L)),
        "all-one-cell window: tv = (|62500-1e6| + 15*62500)/2")
    } finally q.stop()
  }

  test("pqEncodeStream quantizes live vectors to the same codes as the batch encoder") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.registerDotD(spark)

    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val codebook = graft.queries.VectorOps.pqCodebook(emb)
    val batch = graft.queries.VectorOps.pqCodesOn(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sub")) ->
        (r.getAs[Long]("code"), r.getAs[Long]("err_micros"))).toMap

    val all = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    val q = Streams.pqEncodeStream(mem.toDF().toDF("vec_id", "embedding"), codebook)
      .writeStream
      .outputMode("append") // stateless projection
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got.synchronized {
          b.collect().foreach(r => got((r.getLong(0), r.getLong(1))) =
            (r.getLong(2), r.getLong(3)))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-pq").toString)
      .start()
    try {
      val (h1, h2) = all.splitAt(all.length / 2)
      mem.addData(h1.toIndexedSeq); q.processAllAvailable()
      mem.addData(h2.toIndexedSeq); q.processAllAvailable()
      assert(got.size === batch.size)
      assert(got.toMap === batch, "stream codes diverged from the batch encoder")
    } finally q.stop()
  }

  test("tokenHeavyStream: MG bound holds over the cumulative stream at every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val k = 8
    val mem = MemoryStream[String]
    @volatile var latest: Map[String, Long] = Map.empty
    val q = Streams.tokenHeavyStream(mem.toDF().toDF("token"), k)
      .writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().headOption.foreach { r =>
          latest = r.getSeq[org.apache.spark.sql.Row](0)
            .map(e => e.getString(0) -> e.getLong(1)).toMap
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-mg").toString)
      .start()
    try {
      // three zipf-ish chunks over a 60-token vocabulary (>> k): the
      // sketch state must absorb each batch and keep the bound on the
      // TOTAL stream so far
      val exact = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for (chunk <- 1 to 3) {
        val batch = (1 to 60).flatMap(i => Seq.fill(600 / i / chunk + 1)(s"w$i"))
        batch.foreach(t => exact(t) += 1L)
        mem.addData(batch)
        q.processAllAvailable()
        val n = exact.values.sum
        assert(latest.size <= k && latest.nonEmpty)
        exact.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { t =>
          assert(latest.contains(t), s"chunk $chunk: heavy $t missing from state")
        }
        latest.foreach { case (t, est) =>
          assert(est <= exact(t), s"chunk $chunk: $t overcounted")
          assert((exact(t) - est) * (k + 1) <= n, s"chunk $chunk: $t error over bound")
        }
      }
    } finally q.stop()
  }

  test("dedupWithinWatermark drops in-horizon duplicates, evicts state past it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[UserBehavior]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val deduped = Streams.dedupWithinWatermark(
      mem.toDS().withColumn("eventTime", timestamp_seconds(col("timestamp"))),
      keys = Seq("itemId"),
      eventTimeCol = "eventTime",
      delay = "100 seconds")
    val q = deduped.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized {
          seen ++= b.collect().map(r => (r.getAs[Long]("itemId"), r.getAs[Long]("timestamp")))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-dedup").toString)
      .start()
    try {
      // batch 1: duplicate within the batch dedups to the first arrival
      mem.addData(Seq(
        UserBehavior(1, 10, 1, "pv", 1000),
        UserBehavior(2, 10, 1, "pv", 1010),
        UserBehavior(3, 11, 1, "pv", 1005)))
      q.processAllAvailable()
      assert(seen.map(_._1).sorted === Seq(10L, 11L))
      // batch 2: item 10 again, within the 100s horizon -> dropped
      mem.addData(Seq(UserBehavior(4, 10, 1, "pv", 1050)))
      q.processAllAvailable()
      assert(seen.count(_._1 == 10L) === 1)
      // batch 3: advance the watermark far past item 10's expiry
      mem.addData(Seq(UserBehavior(5, 12, 1, "pv", 5000)))
      q.processAllAvailable()
      // batch 4: item 10 recurs AFTER its state was evicted -> re-emitted;
      // this is the bounded-state contract, not a bug
      mem.addData(Seq(UserBehavior(6, 10, 1, "pv", 4950)))
      q.processAllAvailable()
      assert(seen.count(_._1 == 10L) === 2)
      assert(seen.map(_._1).count(_ == 12L) === 1)
    } finally q.stop()
  }

  test("dedupParaStream keeps first occurrences of paragraph blocks across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // three paragraph blocks of exactly 25 tokens; B is the shared boilerplate
    def block(tag: String) = (1 to 25).map(i => s"$tag$i").mkString(" ")
    val (a, b, c) = (block("a"), block("b"), block("c"))

    val mem = MemoryStream[(Long, String, Long)]
    val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
    val out = Streams.dedupParaStream(
      mem.toDS().toDF("doc_id", "text", "ts")
        .withColumn("eventTime", timestamp_seconds(col("ts"))),
      eventTimeCol = "eventTime",
      delay = "100 seconds")
    val q = out.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        kept.synchronized {
          kept ++= batch.collect().map(r =>
            (r.getAs[Long]("doc_id"), r.getAs[Int]("para_idx"), r.getAs[String]("para")))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-dedup-para").toString)
      .start()
    try {
      // batch 1: doc 1 = [A, B]; doc 2 = [B, C] — the shared boilerplate B
      // survives exactly once (WHICH copy wins within one micro-batch is
      // arbitrary — dropDuplicates keeps the first encountered per
      // partition order — so assert the invariant, not the owner), A and
      // C are fresh and kept
      mem.addData(Seq((1L, s"$a $b", 1000L), (2L, s"$b $c", 1005L)))
      q.processAllAvailable()
      assert(kept.size === 3)
      assert(kept.map(_._3).toSet === Set(a, b, c))
      assert(kept.count(_._3 == b) === 1)
      // batch 2: doc 3 repeats B within the horizon -> fully dropped; its
      // fresh tail block (shorter than a full block) is kept
      val tail = "x1 x2 x3"
      mem.addData(Seq((3L, s"$b $tail", 1050L)))
      q.processAllAvailable()
      assert(kept.count(_._3 == b) === 1, "in-horizon boilerplate must not re-emit")
      assert(kept.exists(k => k._1 == 3L && k._3 == tail), "the ragged fresh tail is kept")
    } finally q.stop()
  }

  test("streaming bloom UV converges to the batch bitmap count (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)

    val mem = MemoryStream[UserBehavior]
    val latest = scala.collection.mutable.Map.empty[Long, Long]
    val q = Streams.uvBloom(mem.toDS())
      .writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        latest.synchronized {
          b.collect().foreach(r => latest(r.getAs[Long]("windowEnd")) = r.getAs[Long]("uv"))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-uvbloom").toString)
      .start()
    try {
      // two batches so the per-window offset set must merge across batches
      mem.addData(behaviors.take(behaviors.length / 2).toSeq)
      q.processAllAvailable()
      mem.addData(behaviors.drop(behaviors.length / 2).toSeq)
      q.processAllAvailable()
      // same definition both sides: Spark drops the watermark node on a
      // bounded Dataset, so the operator runs as-is in batch
      val batch = Streams.uvBloom(behaviors.toSeq.toDS())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(latest.toMap === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("cleanCorpusStream dedups by content and applies the batch quality gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val fair = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 tokens -> 'fair'
    val mem = MemoryStream[(Long, String, Long)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = Streams.cleanCorpusStream(
        mem.toDF().toDF("doc_id", "text", "ts")
          .withColumn("eventTime", timestamp_seconds(col("ts"))),
        eventTimeCol = "eventTime",
        delay = "60 seconds")
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized {
          seen ++= b.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("quality")))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-clean").toString)
      .start()
    try {
      mem.addData(Seq(
        (1L, fair, 1000L),      // passes as 'fair'
        (2L, fair, 1001L),      // exact duplicate content -> dropped
        (3L, "too short", 1002L))) // 2 tokens -> 'poor' -> dropped
      q.processAllAvailable()
      assert(seen.map(_._1) === Seq(1L))
      assert(seen.head._2 === "fair")
      // distinct content passes independently
      mem.addData(Seq((4L, fair + " extra", 1003L)))
      q.processAllAvailable()
      assert(seen.map(_._1).sorted === Seq(1L, 4L))
    } finally q.stop()
  }

  test("deltaDedupStream drops base collisions via the static index and in-stream dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the persistent base-corpus index: distinct content hashes
    val baseIndex = Seq("already in corpus", "also in corpus")
      .toDF("text").select(md5(col("text")).as("text_hash"))

    val mem = MemoryStream[(Long, String, Long)]
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.deltaDedupStream(
        mem.toDF().toDF("doc_id", "text", "ts")
          .withColumn("eventTime", timestamp_seconds(col("ts"))),
        baseIndex,
        eventTimeCol = "eventTime",
        delay = "60 seconds")
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        kept.synchronized { kept ++= b.collect().map(_.getAs[Long]("doc_id")) }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-delta").toString)
      .start()
    try {
      mem.addData(Seq(
        (10L, "already in corpus", 1000L), // collides with the base index -> dropped
        (11L, "fresh content", 1001L))) //     fresh -> kept
      q.processAllAvailable()
      assert(kept.sorted === Seq(11L))
      // second batch: an in-stream repeat of the kept doc AND another
      // base collision both drop; new content passes
      mem.addData(Seq(
        (12L, "fresh content", 1002L),
        (13L, "also in corpus", 1003L),
        (14L, "brand new", 1004L)))
      q.processAllAvailable()
      assert(kept.sorted === Seq(11L, 14L))
    } finally q.stop()
  }

  test("deltaNearDupStream flags exactly the batch operator's neardup set via the stored index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def doc(seed: Int): String = (1 to 12).map(i => s"w${seed}_$i").mkString(" ")
    val base = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(3))).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("lsh-idx").toString
    graft.queries.TextOps.writeLshIndex(base, idx)

    // (band-row parity of streamBandRows vs the batch signature is
    // pinned in TextOpsSpec, which can see the private[queries] batch
    // half; this test pins the composed verdict parity)

    // delta: two base copies (flag), two fresh docs (pass), split across
    // micro-batches; a short doc (< 3 tokens) must pass (no signature)
    val delta = Seq(
      (10L, doc(1), 1000L), (11L, doc(7), 1001L),
      (12L, doc(2), 1002L), (13L, doc(8), 1003L), (14L, "too short", 1004L))
    val expected = graft.queries.TextOps
      .deltaNearDupFromIndex(delta.toDF("doc_id", "text", "ts"), idx)
      .filter($"verdict" === "neardup_of_base")
      .collect().map(_.getAs[Long]("doc_id")).toSet

    val mem = MemoryStream[(Long, String, Long)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.deltaNearDupStream(
        mem.toDF().toDF("doc_id", "text", "ts")
          .withColumn("eventTime", timestamp_seconds(col("ts"))),
        idx, eventTimeCol = "eventTime", delay = "60 seconds")
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        flagged.synchronized { flagged ++= b.collect().map(_.getAs[Long]("doc_id")) }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-neardup").toString)
      .start()
    try {
      mem.addData(delta.take(2))
      q.processAllAvailable()
      mem.addData(delta.drop(2))
      q.processAllAvailable()
      assert(flagged.toSet === expected, "stream marks must equal the batch verdict set")
      assert(expected === Set(10L, 12L), "the planted base copies and only them")
      assert(flagged.size === flagged.toSet.size, "one mark per doc despite multi-band hits")
    } finally q.stop()
  }

  test("bqNearDupStream flags exactly the batch screen's set via the stored BQ index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rnd = new scala.util.Random(91)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def flip(v: Array[Float], dims: Seq[Int]): Array[Float] = {
      val w = v.clone(); dims.foreach(d => w(d) = -w(d)); w
    }
    val base = (0L until 30L).map(i => (i, vec()))
    val idx = java.nio.file.Files.createTempDirectory("bq-stream-idx").toString
    graft.queries.VectorOps.writeBqIndex(
      spark.createDataset(base).toDF("vec_id", "embedding"), idx)

    // arrivals: two within-radius perturbations (flag), two fresh (pass)
    val arrivals = Seq(
      (100L, flip(base(4)._2, Seq(5)), 1000L),
      (101L, vec(), 1001L),
      (102L, flip(base(9)._2, Seq(2, 40, 60)), 1002L),
      (103L, vec(), 1003L))
    val expected = graft.queries.VectorOps
      .bqNearDupFromIndex(
        spark.createDataset(arrivals.map(a => (a._1, a._2)))
          .toDF("vec_id", "embedding"), idx)
      .filter($"verdict" === "neardup_of_base")
      .collect().map(_.getAs[Long]("vec_id")).toSet

    val mem = MemoryStream[(Long, Array[Float], Long)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.bqNearDupStream(
        mem.toDF().toDF("vec_id", "embedding", "ts")
          .withColumn("eventTime", timestamp_seconds(col("ts"))),
        idx, eventTimeCol = "eventTime", delay = "60 seconds")
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        flagged.synchronized { flagged ++= b.collect().map(_.getAs[Long]("vec_id")) }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-bq-stream").toString)
      .start()
    try {
      mem.addData(arrivals.take(2))
      q.processAllAvailable()
      mem.addData(arrivals.drop(2))
      q.processAllAvailable()
      assert(flagged.toSet === expected, "stream marks must equal the batch verdict set")
      assert(expected === Set(100L, 102L), "the planted perturbations and only them")
      assert(flagged.size === flagged.toSet.size, "one mark per vec despite multi-band hits")
    } finally q.stop()
  }

  test("substringScrubSpansStream emits exactly the base-owned spans, statelessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val W = graft.queries.TextOps.winW
    val span = (1 to W).map(i => s"s$i").mkString(" ")
    // the frozen index: distinct window hashes of the curated base
    val baseIndex = graft.queries.TextOps.substringIndexOn(
      Seq((100L, (1 to 8).map(i => s"pre$i").mkString(" ") + " " + span))
        .toDF("doc_id", "text"))

    val mem = MemoryStream[(Long, String)]
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    val q = Streams.substringScrubSpansStream(
        mem.toDF().toDF("doc_id", "text"), baseIndex)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        spans.synchronized {
          spans ++= b.collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Int]("start"), r.getAs[Int]("fin")))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-sspan").toString)
      .start()
    try {
      mem.addData(Seq(
        // embeds the base span after 5 fresh tokens -> ONE owned window at start 6
        (20L, (1 to 5).map(i => s"x$i").mkString(" ") + " " + span),
        // entirely fresh content -> no spans
        (21L, (1 to 40).map(i => s"y$i").mkString(" "))))
      q.processAllAvailable()
      assert(spans.toList == List((20L, 6, 6 + W - 1)))
      // a later batch embedding the span at the very front
      mem.addData(Seq((22L, span + " " + (1 to 6).map(i => s"z$i").mkString(" "))))
      q.processAllAvailable()
      assert(spans.sorted.toList == List((20L, 6, 6 + W - 1), (22L, 1, W)))
    } finally q.stop()
  }

  test("stateful queries run on the RocksDB state store (the 100TB state path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[UserBehavior]
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = Streams.dedupWithinWatermark(
          mem.toDS().withColumn("eventTime", timestamp_seconds(col("timestamp"))),
          keys = Seq("itemId"), eventTimeCol = "eventTime", delay = "60 seconds")
        .writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          seen.synchronized { seen ++= b.collect().map(_.getAs[Long]("itemId")) }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt-rocks").toString)
        .start()
      try {
        mem.addData(Seq(
          UserBehavior(1, 21, 1, "pv", 1000),
          UserBehavior(2, 21, 1, "pv", 1001),
          UserBehavior(3, 22, 1, "pv", 1002)))
        q.processAllAvailable()
        assert(seen.sorted === Seq(21L, 22L))
        // the state operator must actually be running RocksDB — its custom
        // metrics namespace only exists under that provider
        val metrics = q.lastProgress.stateOperators.head.customMetrics.keySet()
        assert(metrics.stream().anyMatch(_.startsWith("rocksdb")), metrics.toString)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
  test("streaming relaxed funnel matches its batch evaluation (chained stream-stream joins)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"user_id", $"event_type", $"ts_sec")
      .as[FunnelEv].collect().sortBy(_.ts_sec)
    var cut = evs.length / 2
    while (cut < evs.length && evs(cut - 1).ts_sec >= evs(cut).ts_sec) cut += 1
    val (h1, h2) = evs.splitAt(cut)

    def timed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("eventTime", timestamp_seconds(col("ts_sec")))
      .withWatermark("eventTime", "0 seconds")

    val mem = MemoryStream[FunnelEv]
    val q = Streams
      .funnelRelaxed(timed(mem.toDF()), ("view", "click", "purchase"), 86400L)
      .writeStream
      .format("memory")
      .queryName("funnel_stream")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-funnel").toString)
      .start()
    try {
      mem.addData(h1.toSeq)
      q.processAllAvailable()
      mem.addData(h2.toSeq)
      q.processAllAvailable()
      // a far-future no-op event advances the watermark past every pending
      // join state so all triples are final before comparing
      mem.addData(Seq(FunnelEv(-1L, -1L, "noop", evs.last.ts_sec + 10 * 86400L)))
      q.processAllAvailable()
      mem.addData(Seq.empty[FunnelEv])
      q.processAllAvailable()

      val streamed = spark.table("funnel_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val batch = Streams
        .funnelRelaxed(timed(spark.createDataset(evs.toIndexedSeq).toDF()),
          ("view", "click", "purchase"), 86400L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("relaxed-funnel join state plateaus at the window horizon, not total input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // ordered replay in ~10 chunks: with the watermark advancing between
    // chunks, both stream-stream join states must EVICT rows older than
    // the interval bound — peak state stays at (events within windowSec),
    // far below the 30-day replay's total
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter($"event_type".isin("view", "click", "purchase"))
      .select($"event_id", $"user_id", $"event_type", $"ts_sec")
      .as[FunnelEv].collect().sortBy(e => (e.ts_sec, e.event_id)).toVector

    def timed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("eventTime", timestamp_seconds(col("ts_sec")))
      .withWatermark("eventTime", "60 seconds")

    val mem = MemoryStream[FunnelEv]
    val q = Streams
      .funnelRelaxed(timed(mem.toDF()), ("view", "click", "purchase"), 86400L)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.count() // drain every partition so the state stores commit
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-funnel-state").toString)
      .start()
    val stateSeries = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val chunkSize = math.max(1, evs.length / 10)
      var idx = 0
      while (idx < evs.length) {
        // cut each chunk where ts strictly increases so no boundary row
        // ties the watermark left by the previous chunk
        var end = math.min(idx + chunkSize, evs.length)
        while (end < evs.length && evs(end).ts_sec == evs(end - 1).ts_sec) end += 1
        mem.addData(evs.slice(idx, end))
        q.processAllAvailable()
        val p = q.lastProgress
        if (p != null && p.stateOperators.nonEmpty)
          stateSeries += p.stateOperators.map(_.numRowsTotal).sum
        idx = end
      }
    } finally q.stop()

    assert(stateSeries.nonEmpty)
    val peak = stateSeries.max
    assert(peak > 0)
    // the replay spans ~30 windowSec horizons: bounded state must stay
    // well below buffering the whole input across the two joins (~3x
    // total rows if nothing ever evicted)
    assert(peak < evs.length, s"join state $peak rows never evicted (input ${evs.length})")
    // and eviction must actually happen: the final state (after the whole
    // span flowed through) cannot still hold the peak-era rows
    assert(stateSeries.last <= peak)
  }

  test("piiScrubStream redacts identically to the batch operator, stateless append") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val q = Streams.piiScrubStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized {
          seen ++= b.collect().map(r =>
            (r.getAs[Long]("doc_id"), r.getAs[String]("scrubbed"), r.getAs[Long]("n_redacted")))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-pii").toString)
      .start()
    try {
      mem.addData(Seq(
        (1L, "mail bob@x.io from 10.0.0.1"),
        (2L, "clean text")))
      q.processAllAvailable()
      // second batch: same doc content again — stateless, so it re-emits
      // (no dedup semantics, exactly like running the batch scrub twice)
      mem.addData(Seq((3L, "mail bob@x.io from 10.0.0.1")))
      q.processAllAvailable()
    } finally q.stop()
    val got = seen.sortBy(_._1)
    assert(got.map(_._1) === Seq(1L, 2L, 3L))
    assert(got(0)._2 === "mail <EMAIL> from <IP>" && got(0)._3 === 2L)
    assert(got(1)._2 === "clean text" && got(1)._3 === 0L)
    assert(got(2)._2 === got(0)._2, "stateless projection: identical input, identical output")
    // batch parity on the same rows through the same core
    val batch = graft.queries.TextOps.piiScrubOn(
        Seq((1L, "mail bob@x.io from 10.0.0.1"), (2L, "clean text")).toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("scrubbed")))
      .sortBy(_._1)
    assert(batch.map(_._2).toSeq === got.take(2).map(_._2).toSeq)
  }

  test("bm25AlertStream scores arrivals exactly as the stored-index batch ranker") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "spark join window alpha beta"),
      (2L, "spark spark join gamma delta epsilon zeta eta theta iota"),
      (3L, "alpha beta gamma delta"), // no query terms -> never emits
      (4L, "window window window kappa"),
      (5L, "join lambda"),
    )
    val idx = java.nio.file.Files.createTempDirectory("bm25-idx").toString
    graft.queries.SearchOps.writePostingsIndex(corpus.toDF("doc_id", "text"), idx)
    // 'neverseen' is absent from the index: it must contribute 0, exactly
    // like the batch searcher's inner join against the term table
    val terms = Seq("spark", "join", "window", "neverseen")
    val expected = graft.queries.SearchOps.bm25SearchFromIndex(spark, idx, terms, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val mem = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Streams.bm25AlertStream(mem.toDF().toDF("doc_id", "text"), idx, terms)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        out.synchronized { out ++= b.collect().map(r => (r.getLong(0), r.getLong(1))) }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-bm25").toString)
      .start()
    try {
      mem.addData(corpus.take(2))
      q.processAllAvailable()
      mem.addData(corpus.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    assert(out.sortBy(t => (-t._2, t._1)).toSeq === expected,
      "per-doc streaming scores must equal the stored-index batch ranking")
    assert(!out.exists(_._1 == 3L), "a doc with no query terms emits nothing")
    assert(out.size === 4)
  }

  test("bm25AlertBatchScorer follows an index append mid-stream (fresh idf per batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "spark join window alpha beta"),
      (2L, "spark spark join gamma delta"),
      (3L, "window kappa lambda"))
    val idx = java.nio.file.Files.createTempDirectory("bm25-fresh-idx").toString
    graft.queries.SearchOps.writePostingsIndex(corpus.toDF("doc_id", "text"), idx)
    val terms = Seq("spark", "join")
    // the day's arrivals shift idf (spark df 2->5, n 3->6, tl advances)
    val arrivals = Seq(
      (10L, "spark epsilon"), (11L, "spark zeta"), (12L, "spark eta theta"))

    def probeScore(id: Long): Long =
      // bm25AlertStream bakes the CURRENTLY committed stats into a plan —
      // on a batch frame that is exactly "score this doc under today's
      // stats", the oracle for what each micro-batch must have seen
      Streams.bm25AlertStream(
        Seq((id, "spark join mu")).toDF("doc_id", "text"), idx, terms)
        .collect().map(_.getLong(1)).head

    val expOld = probeScore(100L)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch(Streams.bm25AlertBatchScorer(idx, terms) { (scored, batchId) =>
        out.synchronized {
          out ++= scored.collect().map(r => (batchId, r.getLong(0), r.getLong(1)))
        }
        ()
      })
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-bm25f").toString)
      .start()
    try {
      mem.addData(Seq((100L, "spark join mu")))
      q.processAllAvailable()
      // fold the arrivals in mid-stream: the manifest flips to epoch 1
      graft.queries.SearchOps.appendPostingsIndex(
        arrivals.toDF("doc_id", "text"), idx)
      mem.addData(Seq((101L, "spark join mu")))
      q.processAllAvailable()
    } finally q.stop()
    val expNew = probeScore(101L)
    assert(expNew !== expOld, "fixture must actually move the stats")
    val byDoc = out.map(t => t._2 -> t._3).toMap
    assert(byDoc(100L) === expOld, "pre-append batch scores with the old stats")
    assert(byDoc(101L) === expNew,
      "post-append batch must score with the ADVANCED stats, not construction-time ones")
  }

  test("phrase and proximity alert streams match their batch rankers per doc, statelessly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))

    // batch ground truth: UNRANKED per-doc counts from the catalog cores
    val phraseExpect = graft.queries.Catalog.queries("t_phrase_search")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val proxExpect = graft.queries.Catalog.queries("t_proximity_search")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def drive(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Map[Long, Long] = {
      val mem = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = mk(mem.toDF().toDF("doc_id", "text")).writeStream
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          out.synchronized { out ++= b.collect().map(r => (r.getLong(0), r.getLong(1))) }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt-alert").toString)
        .start()
      try {
        val (h, t) = docs.splitAt(docs.length / 2)
        mem.addData(h.toSeq); q.processAllAvailable()
        mem.addData(t.toSeq); q.processAllAvailable()
      } finally q.stop()
      out.toMap
    }

    val phraseGot = drive(Streams.phraseAlertStream(_, Seq("spark", "join")))
    // the batch query is top-15-ranked; the stream is unranked — every
    // ranked row must appear in the stream with the same count, and the
    // stream must emit at least as many docs
    phraseExpect.foreach { case (id, tf) =>
      assert(phraseGot.get(id).contains(tf), s"phrase doc $id")
    }
    assert(phraseGot.size >= phraseExpect.size)
    assert(phraseGot.values.forall(_ > 0L))

    val proxGot = drive(Streams.proximityAlertStream(_, "spark", "join", 3))
    proxExpect.foreach { case (id, tf) =>
      assert(proxGot.get(id).contains(tf), s"proximity doc $id")
    }
    assert(proxGot.size >= proxExpect.size)
  }

  test("cooccurStream delta sums equal the stored fold's pair table at every batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same regime as CooccurIndexSpec's property test: random slices
    // under a tiny cap, light + heavy users, so crossings (retraction
    // storms) land at random batch positions
    val rnd = new scala.util.Random(777)
    val cap = 3L
    val slices: Seq[Seq[(Long, Long)]] = Seq.fill(3) {
      (for {
        u <- 1L to 8L
        i <- 1L to 10L
        if rnd.nextDouble() < (if (u <= 4L) 0.08 else 0.30)
      } yield (u, i)).toSeq
    }
    val mem = MemoryStream[(Long, Long)]
    val sums = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[(Long, Long), Long]]
    val q = Streams.cooccurStream(mem.toDF().toDF("user_id", "item"), cap)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        sums.synchronized {
          rows.foreach { case (k, d) => sums(k) = sums.getOrElse(k, 0L) + d }
          perBatch += sums.filter(_._2 > 0L).toMap
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-cooccur").toString)
      .start()
    try {
      slices.foreach { s => mem.addData(s); q.processAllAvailable() }
    } finally q.stop()
    assert(perBatch.length === 3)

    // the batch ground truth at each prefix: the stored incremental fold
    def foldPrefix(n: Int): Map[(Long, Long), Long] = {
      val dir = java.nio.file.Files.createTempDirectory(s"cooccur-sb$n").toString
      graft.queries.GraphOps.writeCooccurIndex(
        slices.head.toDF("user_id", "item"), dir, cap)
      slices.slice(1, n).foreach { s =>
        graft.queries.GraphOps.appendCooccurIndex(s.toDF("user_id", "item"), dir, cap)
      }
      graft.sources.IndexManifest.readRewrite(spark, dir, "pairs", graft.sources.IndexManifest.Cooccur)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    (1 to 3).foreach { n =>
      assert(perBatch(n - 1) === foldPrefix(n),
        s"stream delta sums diverged from the stored fold after batch $n")
    }
    // the run must actually contain a retraction (a crossing user)
    assert(sums.values.exists(_ == 0L) ||
      perBatch.sliding(2).exists(w => w.length == 2 &&
        w(0).keySet.exists(k => !w(1).keySet.contains(k))),
      "fixture produced no retraction — regenerate the slices")
  }

  test("scd2Stream emits exactly the stored fold's closed rows across batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // same lifecycle matrix as the Scd2Spec planted test: extend, change,
    // removal, late add, gap-reappear, revert
    val day0 = Seq((1L, "a"), (2L, "a"), (3L, "a"), (5L, "a"), (6L, "a"))
    val day1 = Seq((1L, "a"), (2L, "a"), (6L, "b"))
    val day2 = Seq((1L, "a"), (2L, "b"), (4L, "a"), (5L, "a"), (6L, "a"))

    // the batch ground truth: the stored fold's closed component
    val dir = java.nio.file.Files.createTempDirectory("scd2-stream").toString
    graft.queries.TextOps.writeScd2(day0.toDF("doc_id", "text"), 0L, dir)
    graft.queries.TextOps.appendScd2Snapshot(day1.toDF("doc_id", "text"), 1L, dir)
    graft.queries.TextOps.appendScd2Snapshot(day2.toDF("doc_id", "text"), 2L, dir)
    val expected = graft.sources.IndexManifest.readAppendOnly(spark, dir, "closed")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("version"),
        r.getAs[String]("content_hash"), r.getAs[Long]("valid_from"),
        r.getAs[Long]("valid_to"))).toSet

    val mem = MemoryStream[(Long, Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long, Long)]
    val q = Streams.scd2Stream(mem.toDF().toDF("doc_id", "d", "text"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getString(2), r.getLong(3), r.getLong(4)))
        }
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-scd2").toString)
      .start()
    try {
      // one micro-batch per snapshot day — closures must chain across
      // batch boundaries through the carried state
      mem.addData(day0.map { case (id, t) => (id, 0L, t) })
      q.processAllAvailable()
      mem.addData(day1.map { case (id, t) => (id, 1L, t) })
      q.processAllAvailable()
      mem.addData(day2.map { case (id, t) => (id, 2L, t) })
      q.processAllAvailable()
    } finally q.stop()
    assert(out.toSet === expected,
      "streaming closures must equal the stored fold's closed component")
    // doc 3 (removed, never reappears) correctly has NO closure yet —
    // its version is still the open state, exactly like the stored latest
    assert(!out.exists(_._1 == 3L))
    // the revert doc closed twice: a->b at day 1, b->a at day 2
    assert(out.count(_._1 == 6L) === 2)
  }

  test("scd2Stream fails loudly on a regressed day instead of silently dropping it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val q = Streams.scd2Stream(mem.toDF().toDF("doc_id", "d", "text"))
      .writeStream
      .outputMode("append")
      .format("noop")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ckpt-scd2-reg").toString)
      .start()
    try {
      // a same-day re-arrival IS a duplicate: first wins, no failure
      mem.addData(Seq((1L, 2L, "a"), (1L, 2L, "conflicting")))
      q.processAllAvailable()
      // a REGRESSED day violates the ordering contract — the query must
      // fail (the stored fold fences the same event on meta.last_day;
      // dropping it here would let the stream diverge silently)
      mem.addData(Seq((1L, 1L, "b")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      def causes(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ causes(t.getCause)
      assert(causes(e).exists(_.contains("misordered snapshot ingest")),
        s"expected the ordering-violation failure, got: ${causes(e)}")
    } finally q.stop()
  }

  test("bm25AlertStream on an empty-corpus index emits nothing instead of dividing by zero") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("bm25-empty-idx").toString
    graft.queries.SearchOps.writePostingsIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    // an arrival full of would-be query terms: with n = tl = 0 every
    // saturation denominator is 0 — the short-circuit must return the
    // empty frame, not an ANSI divide-by-zero
    val got = Streams.bm25AlertStream(
      Seq((1L, "spark join spark")).toDF("doc_id", "text"),
      idx, Seq("spark", "join")).collect()
    assert(got.isEmpty)
  }

  test("erasure stream: per-batch fleet erasure equals stepwise twins; ledger makes replay a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{Erasure, SearchOps, TextOps}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    val docs = Seq(
      (1L, "spark join window spark"), (2L, "join window filter"),
      (3L, "spark filter map"), (4L, "window map reduce"),
      (5L, "spark reduce join")).toDF("doc_id", "text")
    val targets = Erasure.DocTargets(
      postings = Some(tmp("es-post")), lsh = Some(tmp("es-lsh")))
    SearchOps.writePostingsIndex(docs, targets.postings.get)
    TextOps.writeLshIndex(docs, targets.lsh.get)

    val mem = MemoryStream[(Long, String)]
    val ckpt = tmp("es-ckpt")
    val q = Streams.erasureStream(
      mem.toDF().toDF("doc_id", "text"), targets, ckpt)
    try {
      mem.addData(Seq((2L, "join window filter")))
      q.processAllAvailable()
      // batch 1 done: both manifests advanced once
      assert(Erasure.committedEpochs(targets.ordered).values.toSet === Set(1L))
      mem.addData(Seq((4L, "window map reduce")))
      q.processAllAvailable()
      assert(Erasure.committedEpochs(targets.ordered).values.toSet === Set(2L))
    } finally q.stop()

    // the streamed erasures equal a one-shot twin erasure of {2, 4}
    val twin = tmp("es-post-twin")
    SearchOps.writePostingsIndex(docs, twin)
    SearchOps.deleteFromPostingsIndex(Seq(2L, 4L).toDF("doc_id"), twin)
    def top(p: String) = SearchOps.bm25SearchFromIndex(
      spark, p, Seq("spark", "join", "window"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(top(targets.postings.get) === top(twin))

    // replay drill: re-running the LAST committed batch id is a no-op
    // (the write-ahead ledger already records its pre-epochs, so
    // remaining() is empty) — no double-subtract. Only the last batch
    // can ever replay: Structured Streaming re-runs at most the batch
    // whose offsets hadn't committed, which is why the ledger prunes
    // entries of earlier batches (batch-0's is gone by now)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$ckpt/ledger", "batch-0.ledger")),
      "settled ledger entries must be pruned")
    Streams.applyErasureBatch(
      Seq((4L, "window map reduce")).toDF("doc_id", "text"),
      targets, s"$ckpt/ledger", batchId = 1L)
    assert(Erasure.committedEpochs(targets.ordered).values.toSet === Set(2L),
      "replaying a committed batch must advance nothing")
    assert(top(targets.postings.get) === top(twin))

    // crash-MID-fan-out drill: target postings + shingle, but feed a
    // batch with ids only — postings (first in order) erases and
    // commits, then the shingle leg throws on the missing text column.
    // The replay of the same batchId with the full frame must find the
    // write-ahead ledger, skip the already-advanced postings leg, and
    // run only the shingle leg — each family advances EXACTLY once.
    val t2 = Erasure.DocTargets(
      postings = Some(targets.postings.get), shingle = Some(tmp("es-shingle")))
    TextOps.writeShingleIndex(docs, t2.shingle.get)
    intercept[Exception] {
      Streams.applyErasureBatch(
        Seq(5L).toDF("doc_id"), t2, s"$ckpt/ledger", batchId = 7L)
    }
    val mid = Erasure.committedEpochs(t2.ordered)
    assert(mid("postings") === 3L && mid("shingle") === 0L,
      "the crash must land between the two families' commits")
    Streams.applyErasureBatch(
      Seq((5L, "spark reduce join")).toDF("doc_id", "text"),
      t2, s"$ckpt/ledger", batchId = 7L)
    val after = Erasure.committedEpochs(t2.ordered)
    assert(after("postings") === 3L && after("shingle") === 1L,
      "replay must skip the committed leg and finish the unreached one")
  }

  test("user erasure stream: per-batch fleet erasure equals one-shot twins; ledger replay no-op; crash resumes exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.{Erasure, GraphOps, LayoutOps}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val sf = "/root/testdata/sf0.001"
    val rawEvs = graft.sources.Tables.events(spark, sf)
    val evs = rawEvs.withColumn("item",
      regexp_extract($"props", "(\\d+)", 1).cast("long"))

    val co = tmp("ues-co"); val tr = tmp("ues-tr"); val tbl = tmp("ues-tbl")
    GraphOps.writeCooccurIndex(evs, co)
    GraphOps.writeTransitionGraph(evs, tr)
    LayoutOps.writeEventTable(rawEvs, tbl, nFiles = 4)
    val targets = Erasure.UserTargets(
      cooccur = Some(co), transition = Some(tr), table = Some(tbl))

    val mem = MemoryStream[Long]
    val ckpt = tmp("ues-ckpt")
    val q = Streams.userErasureStream(
      mem.toDF().toDF("user_id"), targets, Some(evs), ckpt)
    try {
      mem.addData(3L); q.processAllAvailable()
      assert(Erasure.committedEpochs(targets.ordered).values.toSet === Set(1L))
      mem.addData(7L); q.processAllAvailable()
      assert(Erasure.committedEpochs(targets.ordered).values.toSet === Set(2L))
    } finally q.stop()

    // the streamed erasures equal one-shot twins of {3, 7}: the source
    // log serves no trace, the transition graph equals a rebuild
    val goneUsers = Set(3L, 7L)
    val tblUsers = LayoutOps.readEventTable(spark, tbl)
      .select($"user_id").distinct().as[Long].collect().toSet
    assert(tblUsers.intersect(goneUsers).isEmpty && tblUsers.nonEmpty)
    val uiUsers = StoredIndex.Cooccur.resolved(spark, co)
      .select($"user_id").distinct().as[Long].collect().toSet
    assert(uiUsers.intersect(goneUsers).isEmpty)
    val reb = tmp("ues-tr-reb")
    GraphOps.writeTransitionGraph(
      evs.filter(!$"user_id".isin(goneUsers.toSeq: _*)), reb)
    def edges(dir: String) = graft.sources.IndexManifest
      .readRewrite(spark, dir, "edges", graft.sources.IndexManifest.Transition)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(edges(tr) === edges(reb))

    // replay drill: settled entries pruned; re-running the LAST batch
    // id advances nothing (the write-ahead ledger has its pre-epochs)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$ckpt/ledger", "batch-0.ledger")))
    Streams.applyUserErasureBatch(
      Seq(7L).toDF("user_id"), targets, Some(evs), s"$ckpt/ledger", batchId = 1L)
    assert(Erasure.committedEpochs(targets.ordered).values.toSet === Set(2L),
      "replaying a committed batch must advance nothing")
    assert(edges(tr) === edges(reb))

    // crash-MID-fan-out drill: feed an events frame MISSING `item` —
    // cooccur (first in order) erases and commits, then the transition
    // leg throws building its slice. The replay of the same batchId
    // with the good frame must skip cooccur and finish transition +
    // table — each family advances EXACTLY once.
    val co2 = tmp("ues-co2"); val tr2 = tmp("ues-tr2"); val tbl2 = tmp("ues-tbl2")
    GraphOps.writeCooccurIndex(evs, co2)
    GraphOps.writeTransitionGraph(evs, tr2)
    LayoutOps.writeEventTable(rawEvs, tbl2, nFiles = 4)
    val t2 = Erasure.UserTargets(
      cooccur = Some(co2), transition = Some(tr2), table = Some(tbl2))
    intercept[Exception] {
      Streams.applyUserErasureBatch(
        Seq(5L).toDF("user_id"), t2, Some(rawEvs), s"$ckpt/ledger", batchId = 7L)
    }
    val mid = Erasure.committedEpochs(t2.ordered)
    assert(mid === Map("cooccur" -> 1L, "transition" -> 0L, "table" -> 0L),
      "the crash must land between the cooccur and transition commits")
    Streams.applyUserErasureBatch(
      Seq(5L).toDF("user_id"), t2, Some(evs), s"$ckpt/ledger", batchId = 7L)
    assert(Erasure.committedEpochs(t2.ordered).values.toSet === Set(1L),
      "replay must skip the committed leg and finish the unreached ones")
    val reb2 = tmp("ues-tr2-reb")
    GraphOps.writeTransitionGraph(evs.filter($"user_id" =!= 5L), reb2)
    assert(edges(tr2) === edges(reb2))
  }

  test("ANN serving stream: per-batch top-k equals the batch serving API; replay overwrites idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VectorOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    // a corpus with structure: vectors come in near-identical pairs, so
    // top-1 of a perturbed request is its pair base
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0L until 20L).map(i => (i, vec()))
    val corpusRows = bases ++ bases.map { case (i, v) =>
      (i + 100L, v.map(x => (x + 0.01f * rnd.nextGaussian().toFloat)))
    }
    val corpus = spark.createDataset(corpusRows).toDF("vec_id", "embedding")
    val idx = tmp("ann-serve-idx")
    VectorOps.writeBqIndex(corpus, idx)

    // requests = perturbed copies of bases 3 and 7 (own id space)
    def req(id: Long, base: Long) = {
      val b = bases.find(_._1 == base).get._2
      (id, b.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val r1 = Seq(req(1000L, 3L)); val r2 = Seq(req(2000L, 7L))

    val mem = MemoryStream[(Long, Array[Float])]
    val out = tmp("ann-serve-out"); val ckpt = tmp("ann-serve-ckpt")
    val q = Streams.annServeStream(
      mem.toDF().toDF("query_id", "embedding"), idx, corpus, out, ckpt, k = 5L)
    try {
      mem.addData(r1); q.processAllAvailable()
      mem.addData(r2); q.processAllAvailable()
    } finally q.stop()

    def served = spark.read.option("basePath", out).parquet(out)
      .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
      .collect().map(_.toSeq).toSet
    // parity: the stream's union equals the batch serving API on the
    // same requests
    val batchAll = VectorOps.searchBqIndex(
      spark.createDataset(r1 ++ r2).toDF("query_id", "embedding"),
      idx, corpus, k = 5L)
      .collect().map(_.toSeq).toSet
    assert(served === batchAll && served.nonEmpty)
    // the semantics are real: each request's top-1 is its base vector
    val top1 = spark.read.parquet(out).filter($"rnk" === 1L)
      .select($"query_id", $"cand_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 === Map(1000L -> 3L, 2000L -> 7L))
    // replay idempotence: re-running a committed batch overwrites its
    // own directory — served results unchanged
    VectorOps.searchBqIndex(
      spark.createDataset(r2).toDF("query_id", "embedding"), idx, corpus, k = 5L)
      .write.mode("overwrite").parquet(s"$out/batch=1")
    assert(served === batchAll)
  }

  test("IVF-PQ serving stream: per-batch refine funnel equals the batch API; request ids are their own space; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VectorOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    // a real corpus (the fixture embeddings) so the IVF cells have the
    // structure the ADC probe expects
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = tmp("ivfpq-serve-idx")
    VectorOps.writeIvfPqIndex(emb, idx)
    val corpusRows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    // requests: corpus vectors under fresh ids, PLUS one whose id
    // collides with a stored vec_id — excludeSelf=false must keep the
    // stored twin as a candidate (it ranks first at cosine 1.0)
    val r1 = corpusRows.take(2).map { case (i, v) => (i + 1000000L, v) }.toSeq
    val r2 = Seq((3L, corpusRows.find(_._1 == 3L).get._2))

    val mem = MemoryStream[(Long, Array[Float])]
    val out = tmp("ivfpq-serve-out"); val ckpt = tmp("ivfpq-serve-ckpt")
    val q = Streams.ivfPqServeStream(
      mem.toDF().toDF("query_id", "embedding"), idx, emb, out, ckpt, k = 5L)
    try {
      mem.addData(r1); q.processAllAvailable()
      mem.addData(r2); q.processAllAvailable()
    } finally q.stop()

    def served = spark.read.option("basePath", out).parquet(out)
      .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
      .collect().map(_.toSeq).toSet
    val batchAll = VectorOps.searchIvfPqRefined(
      spark, idx,
      spark.createDataset(r1 ++ r2).toDF("query_id", "embedding"),
      emb, k = 5L, excludeSelf = false)
      .collect().map(_.toSeq).toSet
    assert(served === batchAll && served.nonEmpty)
    // the colliding request finds its stored twin at the top
    val top1 = spark.read.parquet(out).filter($"rnk" === 1L && $"query_id" === 3L)
      .select($"cand_id", $"sim_micros").collect().head
    assert(top1.getLong(0) === 3L && top1.getLong(1) === 1000000L,
      "a request id colliding with a stored vec_id must still see that vector")
    // replay idempotence: re-running a committed batch overwrites its
    // own directory — served results unchanged
    VectorOps.searchIvfPqRefined(
      spark, idx, spark.createDataset(r2).toDF("query_id", "embedding"),
      emb, k = 5L, excludeSelf = false)
      .write.mode("overwrite").parquet(s"$out/batch=1")
    assert(served === batchAll)
  }

  test("cascade serving stream: per-batch 3-tier serve equals the batch API; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VectorOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bqIdx = tmp("casc-serve-bq"); val sqIdx = tmp("casc-serve-sq8")
    VectorOps.writeBqIndex(emb, bqIdx)
    VectorOps.writeSq8Index(emb, sqIdx)
    val corpusRows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val r1 = corpusRows.take(2).map { case (i, v) => (i + 1000000L, v) }.toSeq
    val r2 = corpusRows.slice(2, 4).map { case (i, v) => (i + 2000000L, v) }.toSeq

    val mem = MemoryStream[(Long, Array[Float])]
    val out = tmp("casc-serve-out"); val ckpt = tmp("casc-serve-ckpt")
    val q = Streams.cascadeServeStream(
      mem.toDF().toDF("query_id", "embedding"), bqIdx, sqIdx, emb, out, ckpt,
      k = 5L)
    try {
      mem.addData(r1); q.processAllAvailable()
      mem.addData(r2); q.processAllAvailable()
    } finally q.stop()

    def served = spark.read.option("basePath", out).parquet(out)
      .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
      .collect().map(_.toSeq).toSet
    val batchAll = VectorOps.searchCascadeIndex(
      spark.createDataset(r1 ++ r2).toDF("query_id", "embedding"),
      bqIdx, sqIdx, emb, k = 5L)
      .collect().map(_.toSeq).toSet
    assert(served === batchAll && served.nonEmpty)
    // a corpus-clone request's top-1 is its stored twin at cosine 1.0
    // (own id space: the twin is a candidate, not excluded self)
    val top1 = spark.read.parquet(out)
      .filter($"rnk" === 1L && $"query_id" === corpusRows.head._1 + 1000000L)
      .select($"cand_id", $"sim_micros").collect().head
    assert(top1.getLong(0) === corpusRows.head._1 && top1.getLong(1) === 1000000L)
    // replay idempotence
    VectorOps.searchCascadeIndex(
      spark.createDataset(r2).toDF("query_id", "embedding"),
      bqIdx, sqIdx, emb, k = 5L)
      .write.mode("overwrite").parquet(s"$out/batch=1")
    assert(served === batchAll)
  }

  test("cascade serving stream with per-request keepPairs: same-batch queries with disjoint keep sets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VectorOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bqIdx = tmp("fps-bq"); val sqIdx = tmp("fps-sq8")
    VectorOps.writeBqIndex(emb, bqIdx)
    VectorOps.writeSq8Index(emb, sqIdx)

    // the standing eligibility relation: request q sees only its own id
    // parity — binds at stream construction (the corpus convention),
    // each batch's requests key into it by query_id
    val reqRows = emb.filter($"vec_id" < 4L).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val pairs = spark.createDataset(reqRows.map(_._1)).toDF("query_id")
      .withColumn("par", $"query_id" % 2)
      .join(emb.select($"vec_id", ($"vec_id" % 2).as("par")), Seq("par"))
      .select($"query_id", $"vec_id")

    val mem = MemoryStream[(Long, Array[Float])]
    val out = tmp("fps-out"); val ckpt = tmp("fps-ckpt")
    val q = Streams.cascadeServeStream(
      mem.toDF().toDF("query_id", "embedding"), bqIdx, sqIdx, emb, out, ckpt,
      k = 5L, keepPairs = Some(pairs))
    try {
      mem.addData(reqRows) // ONE batch, four queries, two disjoint keep sets
      q.processAllAvailable()
    } finally q.stop()

    val served = spark.read.option("basePath", out).parquet(out)
      .select($"query_id", $"cand_id", $"rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served.nonEmpty)
    assert(served.forall { case (qid, cand, _) => cand % 2 == qid % 2 },
      "every served candidate must be inside ITS OWN query's keep set")
    // adversarial: query 0's top candidate is an id query 1 may never see
    val top0 = served.filter(_._1 == 0L).minBy(_._3)._2
    assert(!served.exists(r => r._1 == 1L && r._2 == top0))
    // and the stream equals the batch API under the same pairs frame
    val batch = VectorOps.searchCascadeIndex(
      spark.createDataset(reqRows).toDF("query_id", "embedding"),
      bqIdx, sqIdx, emb, k = 5L, keepPairs = Some(pairs))
      .select($"query_id", $"cand_id", $"rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served.toSet === batch)
  }

  test("per-batch keepPairsFrom: a mid-stream attrs change is served within one batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VectorOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bqIdx = tmp("fpp-bq"); val sqIdx = tmp("fpp-sq8")
    VectorOps.writeBqIndex(emb, bqIdx)
    VectorOps.writeSq8Index(emb, sqIdx)

    // the EVOLVING attributes store: eligibility lives in a parquet dir
    // the relation builder re-reads per batch (epoch-following, like
    // the index reads) — initially even ids only, later odd ids only
    val attrsPath = tmp("fpp-attrs")
    def writeAttrs(keepParity: Long): Unit =
      emb.select($"vec_id").filter($"vec_id" % 2 === keepParity)
        .withColumn("eligible", org.apache.spark.sql.functions.lit(true))
        .coalesce(1).write.mode("overwrite").parquet(attrsPath)
    writeAttrs(0L)

    val reqRows = emb.filter($"vec_id" < 2L).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val out = tmp("fpp-out"); val ckpt = tmp("fpp-ckpt")
    val q = Streams.cascadeServeStream(
      mem.toDF().toDF("query_id", "embedding"), bqIdx, sqIdx, emb, out, ckpt,
      k = 5L,
      keepPairsPer = Some { batch =>
        // a FRESH read per batch: new files in the attrs dir are seen
        // by the next micro-batch without a stream restart. The cond is
        // a derived-key EQUI join (request parity = attr parity), so
        // the store's content AND the per-request key both gate: with
        // only even ids stored, request 1 resolves an EMPTY keep set
        // and is served zero candidates (the absent-request contract)
        val attrs = batch.sparkSession.read.parquet(attrsPath)
        VectorOps.keepPairsFrom(batch, attrs,
          attrs("vec_id") % 2 === batch("query_id") % 2)
      })
    try {
      mem.addData(reqRows)
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$out/batch=0")
        .select($"query_id", $"cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(b0.nonEmpty && b0.forall(_._2 % 2 == 0),
        "batch 0 must serve only the attrs store's CURRENT eligible ids (even)")
      assert(!b0.exists(_._1 == 1L),
        "request 1's keep set is empty while only even ids are stored")

      // the attributes table changes UNDER the standing stream
      writeAttrs(1L)
      mem.addData(reqRows)
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$out/batch=1")
        .select($"query_id", $"cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(b1.nonEmpty && b1.forall(_._2 % 2 == 1),
        "the NEXT batch must already serve the new eligibility - no restart")
      assert(!b1.exists(_._1 == 0L),
        "request 0's keep set emptied when the store flipped to odd ids")
    } finally q.stop()

    // static + per-batch together is a contract violation, loudly
    val err = intercept[IllegalArgumentException] {
      Streams.cascadeServeStream(
        mem.toDF().toDF("query_id", "embedding"), bqIdx, sqIdx, emb,
        tmp("fpp-out2"), tmp("fpp-ckpt2"),
        keepPairs = Some(emb.select($"vec_id".as("query_id"), $"vec_id")),
        keepPairsPer = Some(identity))
    }
    assert(err.getMessage.contains("not both"))
  }

  test("hybrid serving stream: per-batch filtered fusion equals the batch API; eligibility is mandatory") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.SearchOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    val sf = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val docsDf = graft.sources.Tables.documents(spark, sf).select($"doc_id", $"text")
    val pdir = graft.sources.Scratch.cached(s"hss-post:$sf", "hss-post") { p =>
      SearchOps.writePostingsIndex(docsDf, p)
    }
    val vdir = graft.sources.Scratch.cached(s"hss-ivfpq:$sf", "hss-ivfpq") { p =>
      graft.queries.VectorOps.writeIvfPqIndex(emb, p)
    }
    val terms = Seq("spark", "join", "window")
    val reqRows = emb.filter($"vec_id" < 2L).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    // per-request disjoint keep sets (the parity construction)
    val pairs = spark.createDataset(reqRows.map(_._1)).toDF("query_id")
      .join(emb.select($"vec_id".as("doc_id")),
        $"query_id" % 2 === $"doc_id" % 2)

    val mem = MemoryStream[(Long, Array[Float])]
    val out = tmp("hss-out"); val ckpt = tmp("hss-ckpt")
    val q = Streams.hybridServeStream(
      mem.toDF().toDF("query_id", "embedding"), pdir, vdir, terms, out, ckpt,
      k = 5, keepPairs = Some(pairs))
    try {
      mem.addData(reqRows)
      q.processAllAvailable()
    } finally q.stop()

    val served = spark.read.option("basePath", out).parquet(out)
      .select($"query_id", $"doc_id", $"rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served.nonEmpty)
    assert(served.forall { case (qid, doc, _) => doc % 2 == qid % 2 },
      "every served doc must satisfy ITS OWN request's keep set")
    // the stream equals the batch API under the same pairs frame and
    // the serving id-space convention (excludeSelf = false)
    val batch = SearchOps.hybridSearchBatchFromIndexes(
      spark, pdir, vdir, terms,
      spark.createDataset(reqRows).toDF("query_id", "embedding"), 5,
      keepPairs = pairs, excludeSelf = false)
      .select($"query_id", $"doc_id", $"rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served.toSet === batch)

    // eligibility is mandatory: an unfiltered hybrid batch would be a
    // corpus x batch relation, so the stream refuses to start without it
    val err = intercept[IllegalArgumentException] {
      Streams.hybridServeStream(
        mem.toDF().toDF("query_id", "embedding"), pdir, vdir, terms,
        tmp("hss-out2"), tmp("hss-ckpt2"))
    }
    assert(err.getMessage.contains("per-request filtered"))
  }

  test("serve streams FOLLOW the committed manifest per batch: a mid-stream append is served from the next batch; an as-of pin freezes the serve") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VectorOps
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    val rnd = new scala.util.Random(23)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0L until 15L).map(i => (i, vec()))
    val vNew = vec() // day-2 arrival: in the corpus float store, not yet indexed
    val corpus = spark.createDataset(bases :+ (500L, vNew)).toDF("vec_id", "embedding")
    val idx = tmp("follow-idx")
    VectorOps.writeBqIndex(spark.createDataset(bases).toDF("vec_id", "embedding"), idx)

    def top1(out: String, qid: Long): Long =
      spark.read.option("basePath", out).parquet(out)
        .filter($"rnk" === 1L && $"query_id" === qid)
        .select($"cand_id").collect().head.getLong(0)

    // epoch-FOLLOWING stream (the default) and a PINNED twin, same requests
    val memF = MemoryStream[(Long, Array[Float])]
    val outF = tmp("follow-out"); val qF = Streams.annServeStream(
      memF.toDF().toDF("query_id", "embedding"), idx, corpus, outF,
      tmp("follow-ckpt"), k = 3L)
    val memP = MemoryStream[(Long, Array[Float])]
    val outP = tmp("pin-out"); val qP = Streams.annServeStream(
      memP.toDF().toDF("query_id", "embedding"), idx, corpus, outP,
      tmp("pin-ckpt"), k = 3L, asOf = Some(0L))
    try {
      // batch 0: the new vector is not yet committed — neither serves it
      memF.addData(Seq((9000L, vNew))); qF.processAllAvailable()
      memP.addData(Seq((9000L, vNew))); qP.processAllAvailable()
      assert(top1(outF, 9000L) !== 500L)
      assert(top1(outP, 9000L) !== 500L)
      // the index folds MID-STREAM — no stream restart
      VectorOps.appendBqIndex(
        spark.createDataset(Seq((500L, vNew))).toDF("vec_id", "embedding"), idx)
      // batch 1: the following stream re-resolves the committed state
      // and serves the appended vector (its exact clone ranks first);
      // the pinned stream still serves epoch 0
      memF.addData(Seq((9001L, vNew))); qF.processAllAvailable()
      memP.addData(Seq((9001L, vNew))); qP.processAllAvailable()
      assert(top1(outF, 9001L) === 500L,
        "an appended vector must be served from the NEXT batch without a restart")
      assert(top1(outP, 9001L) !== 500L,
        "an as-of-pinned serve must keep replaying its pinned epoch")
    } finally { qF.stop(); qP.stop() }
  }

  test("a LIVE pinned serve survives compact + vacuum mid-stream via the pin ledger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.VectorOps
    import graft.sources.IndexManifest
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    graft.functions.GraftFunctions.registerDotD(spark)

    val rnd = new scala.util.Random(47)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val bases = (0L until 15L).map(i => (i, vec()))
    val probe = vec()
    val corpus = spark.createDataset(bases :+ (500L, probe)).toDF("vec_id", "embedding")
    val idx = tmp("lpin-idx")
    VectorOps.writeBqIndex(spark.createDataset(bases).toDF("vec_id", "embedding"), idx)
    VectorOps.appendBqIndex(
      spark.createDataset(Seq((500L, probe))).toDF("vec_id", "embedding"), idx) // epoch 1

    // the serving deployment's discipline: pin BEFORE starting the
    // pinned stream, so maintenance can run underneath it at will
    IndexManifest.registerPin(idx, "audit-serve", 0L, IndexManifest.Bq)
    val mem = MemoryStream[(Long, Array[Float])]
    val out = tmp("lpin-out")
    val q = Streams.annServeStream(
      mem.toDF().toDF("query_id", "embedding"), idx, corpus, out,
      tmp("lpin-ckpt"), k = 3L, asOf = Some(0L))
    def resultOf(qid: Long) =
      spark.read.option("basePath", out).parquet(out)
        .filter($"query_id" === qid)
        .select($"cand_id", $"rnk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      mem.addData(Seq((9000L, probe))); q.processAllAvailable()
      val before = resultOf(9000L)
      assert(!before.exists(_._1 == 500L), "epoch-0 pin: the appended vector is invisible")

      // maintenance runs UNDER the live stream: compaction rebases the
      // floor past both epochs, the janitor vacuums — and reclaims
      // EXACTLY the epoch-1 slice (outside the pin's [0, 0] window)
      // while the pinned window's directories stay alive. Partial
      // reclaim under a live pinned serve: the pin protects its
      // snapshot without starving the janitor.
      VectorOps.compactBqIndex(spark, idx)
      assert(IndexManifest.vacuum(idx, IndexManifest.Bq) === 1L,
        "reclaim the out-of-window epoch-1 slice, keep the pinned [0, 0] window")

      mem.addData(Seq((9001L, probe))); q.processAllAvailable()
      assert(resultOf(9001L) === before,
        "the pinned serve must answer identically AFTER compact + vacuum")
    } finally q.stop()

    // the stream is done: its owner releases, the janitor reclaims, and
    // the pinned epoch is gone for good — a restart of the pinned serve
    // now fails fast instead of silently serving something else
    IndexManifest.releasePin(idx, "audit-serve")
    assert(IndexManifest.vacuum(idx, IndexManifest.Bq) > 0L)
    val refused = intercept[IllegalArgumentException] {
      VectorOps.searchBqIndex(
        spark.createDataset(Seq((1L, probe))).toDF("query_id", "embedding"),
        idx, corpus, asOf = Some(0L)).collect()
    }
    assert(refused.getMessage.contains("registerPin BEFORE the compaction"))
  }

  test("event-table ingest stream: batch parity, exactly-once replay, crash-then-restage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.queries.LayoutOps
    import graft.sources.IndexManifest
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def evs(rows: (Long, Long, String, Long)*) =
      rows.toDF("event_id", "user_id", "event_type", "ts_sec")

    val base = evs((1L, 3L, "view", 19740L * 86400 + 10),
      (2L, 4L, "click", 19740L * 86400 + 20))
    val b1 = evs((3L, 5L, "view", 19741L * 86400 + 5))
    val b2 = evs((4L, 3L, "purchase", 19742L * 86400 + 7))

    val dir = tmp("ztable-stream"); val ckpt = tmp("ztable-ckpt")
    LayoutOps.writeEventTable(base, dir, nFiles = 2)
    def epoch = IndexManifest.committedEpoch(dir, IndexManifest.Layout)

    val mem = MemoryStream[(Long, Long, String, Long)]
    val q = Streams.eventTableStream(
      mem.toDF().toDF("event_id", "user_id", "event_type", "ts_sec"),
      dir, ckpt, nFiles = 1)
    try {
      mem.addData((3L, 5L, "view", 19741L * 86400 + 5))
      q.processAllAvailable()
      assert(epoch === 1L, "first micro-batch commits table epoch 1")
      mem.addData((4L, 3L, "purchase", 19742L * 86400 + 7))
      q.processAllAvailable()
      assert(epoch === 2L)
    } finally q.stop()

    // parity: the streamed table equals a batch-appended twin
    val twin = tmp("ztable-twin")
    LayoutOps.writeEventTable(base, twin, nFiles = 2)
    LayoutOps.appendEventTable(b1, twin, nFiles = 1)
    LayoutOps.appendEventTable(b2, twin, nFiles = 1)
    def rows(p: String) = LayoutOps.readEventTable(spark, p)
      .select($"event_id", $"user_id", $"event_type", $"ts_sec")
      .collect().map(_.toSeq).toSet
    assert(rows(dir) === rows(twin))
    assert(rows(dir).size === 4)

    // replaying the last COMMITTED batch is a no-op (ledgered epoch
    // already committed) — exactly-once, no double fold
    Streams.applyEventTableBatch(b2, dir, s"$ckpt/ledger", batchId = 1L, nFiles = 1)
    assert(epoch === 2L)
    assert(rows(dir) === rows(twin))
    // settled ledger entries are pruned; the in-flight one survives
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$ckpt/ledger", "batch-0.ledger")))

    // crash MID-STAGE: the ledger records the target epoch, then the
    // stage throws (frame missing ts_sec) before anything commits —
    // the replay with the good frame restages into the SAME epoch
    val bad = Seq((9L, 1L)).toDF("event_id", "user_id")
    intercept[Exception] {
      Streams.applyEventTableBatch(bad, dir, s"$ckpt/ledger", batchId = 2L, nFiles = 1)
    }
    assert(epoch === 2L, "a crashed stage must not commit")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$ckpt/ledger", "batch-2.ledger")))
    val b3 = evs((9L, 1L, "view", 19743L * 86400 + 1))
    Streams.applyEventTableBatch(b3, dir, s"$ckpt/ledger", batchId = 2L, nFiles = 1)
    assert(epoch === 3L)
    assert(rows(dir) === (rows(twin) ++ b3.collect().map(_.toSeq)))

    // a FOREIGN writer advancing the table past a ledgered target must
    // fail the replay loudly, never silently drop the batch (the
    // single-writer caveat made loud — same rule as the index ingest)
    val b4 = evs((10L, 2L, "view", 19744L * 86400 + 1))
    intercept[Exception] { // ledger batch 3 at target 4, then crash pre-stage
      Streams.applyEventTableBatch(bad, dir, s"$ckpt/ledger", batchId = 3L, nFiles = 1)
    }
    LayoutOps.appendEventTable(b4, dir, nFiles = 1) // out-of-band: epoch 4
    LayoutOps.appendEventTable(b4.withColumn("event_id", lit(11L)), dir, nFiles = 1)
    assert(epoch === 5L)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Streams.applyEventTableBatch(b4, dir, s"$ckpt/ledger", batchId = 3L, nFiles = 1)
    }
    assert(ex.getMessage.contains("single-writer violation") &&
      ex.getMessage.contains("epoch 5"))

    // and the BACKWARDS case (table rebuilt out-of-band below the
    // ledgered target) is diagnosed by name BEFORE staging anything
    IndexManifest.commit(dir, 1L, fmt = IndexManifest.Layout) // out-of-band rebuild
    val exBack = intercept[java.util.ConcurrentModificationException] {
      Streams.applyEventTableBatch(b4, dir, s"$ckpt/ledger", batchId = 3L, nFiles = 1)
    }
    assert(exBack.getMessage.contains("rebuilt underneath the stream"))
    assert(IndexManifest.committedEpoch(dir, IndexManifest.Layout) === 1L,
      "the violation must leave the rebuilt table exactly as it found it")
  }

}
