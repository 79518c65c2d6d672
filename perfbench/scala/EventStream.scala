package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.{AdClickEvent, UserBehavior}
import graft.operators.{AdBlacklist, Out}
import graft.streaming.Streams

/** `event_stream`: the hot-items top-N and the click-fraud blacklist run
  * as two concurrent streaming queries on the RocksDB session.
  *
  *  - Drain phase: both queries consume a pre-staged backlog of every
  *    event with `Trigger.AvailableNow`; events/s over the wall time until
  *    both finish.
  *  - Open-loop phase: a generator thread lands one file per tick at a
  *    fixed rate, stamping each event with the tick's due time; both
  *    queries run on a 500 ms processing-time trigger. A batch's latency
  *    is its emission time minus the due time of the newest event it
  *    consumed (`observe(max(gen_ms))`).
  */
object EventStream {
  private val schema = "event_id LONG, user_id LONG, item_id LONG, category_id INT, " +
    "behavior STRING, is_click BOOLEAN, ad_id LONG, ts LONG, gen_ms LONG"
  private val drains = 3
  private val drainFiles = 100 // 40k events: four batches per query
  private val drainFilesPerTrigger = 25
  private val warmFiles = 10

  final case class Cfg(rate: Int, tickMs: Int, delayS: Long, topN: Int, sizeS: Long,
      slideS: Long, threshold: Int) {
    def perFile: Int = rate * tickMs / 1000
  }

  /** Folds the top-N emissions into (windowEnd, item) -> latest count. A
    * window's final top-N is the top-N of this map: an item in the true
    * top-N outranks every item changed with it in its last batch, so that
    * batch emitted its final count. */
  final class TopNSink(trace: Trace) {
    val latest = mutable.HashMap.empty[(Long, Long), Long]
    val emittedAt = new ConcurrentHashMap[Long, Double]()
    var outRows = 0L
    val emitMs = mutable.ArrayBuffer.empty[Double]

    def emit(ranked: DataFrame, id: Long): Unit = trace.span("operators.topn_emit") {
      val t0 = trace.nowMs
      val rows = ranked.select("windowEnd", "itemId", "cnt").collect()
      rows.foreach(r => latest((r.getLong(0), r.getLong(1))) = r.getLong(2))
      outRows += rows.length
      val t1 = trace.nowMs
      emitMs += t1 - t0
      emittedAt.put(id, t1)
    }

    def topN(n: Int): Seq[(Long, Long, Long)] =
      latest.toSeq.groupBy(_._1._1).toSeq.flatMap { case (_, xs) =>
        xs.sortBy { case ((_, item), c) => (-c, item) }.take(n)
          .map { case ((w, item), c) => (w, item, c) }
      }
  }

  final class BlacklistSink(trace: Trace) {
    val warnings = mutable.ArrayBuffer.empty[(Long, Long)]
    var mainClicks = 0L
    var outRows = 0L
    val emittedAt = new ConcurrentHashMap[Long, Double]()

    def emit(out: Dataset[AdBlacklist.AdOut], id: Long): Unit = trace.span("operators.blacklist_emit") {
      val rows = out.collect()
      rows.foreach { o =>
        if (o.channel == Out.Main) mainClicks += 1
        else if (o.channel == Out.Alert) o.warning.foreach(w => warnings += ((w.userId, w.adId)))
      }
      outRows += rows.length
      emittedAt.put(id, trace.nowMs)
    }
  }

  final case class Pair(topn: StreamingQuery, bl: StreamingQuery, topnSink: TopNSink,
      blSink: BlacklistSink) {
    def both: Seq[StreamingQuery] = Seq(topn, bl)
  }

  private def start(s: SparkSession, cfg: Cfg, trace: Trace, dir: String, ckpt: String,
      trigger: Trigger, maxFiles: Option[Int], tag: String): Pair = {
    import s.implicits._
    def source: DataFrame = {
      val r = s.readStream.schema(schema)
      maxFiles.fold(r)(m => r.option("maxFilesPerTrigger", m.toLong)).csv(dir)
        .observe("lat", max($"gen_ms").as("max_gen"))
    }
    val delay = s"${cfg.delayS} seconds"
    val topnSink = new TopNSink(trace)
    val behaviors = source
      .select($"user_id".as("userId"), $"item_id".as("itemId"), $"category_id".as("categoryId"),
        $"behavior", $"ts".as("timestamp"))
      .as[UserBehavior]
    val topn = trace.tagged(s, s"stream.topn.$tag") {
      Streams.hotItemsTopN(behaviors, cfg.topN, cfg.sizeS, cfg.slideS, delay)(topnSink.emit)
        .option("checkpointLocation", s"$ckpt/topn").queryName(s"topn_$tag")
        .trigger(trigger).start()
    }
    val blSink = new BlacklistSink(trace)
    val clicks = source.filter($"is_click")
      .select($"user_id".as("userId"), $"ad_id".as("adId"), lit("p").as("province"),
        lit("c").as("city"), $"ts".as("timestamp"))
      .withColumn("eventTime", timestamp_seconds($"timestamp"))
      .withWatermark("eventTime", delay)
      .as[AdClickEvent]
    val bl = trace.tagged(s, s"stream.blacklist.$tag") {
      AdBlacklist.streaming(clicks, cfg.threshold).writeStream
        .outputMode("append")
        .foreachBatch((b: Dataset[AdBlacklist.AdOut], id: Long) => blSink.emit(b, id))
        .option("checkpointLocation", s"$ckpt/blacklist").queryName(s"blacklist_$tag")
        .trigger(trigger).start()
    }
    Pair(topn, bl, topnSink, blSink)
  }

  /** Land `lines` as files of `perFile` events into `dir`, each file
    * written aside and renamed in so a reader never sees a partial one. */
  private def land(dir: String, lines: Array[String], from: Int, until: Int, file: Int,
      genMs: Long): Unit = {
    val tmp = Paths.get(dir, f".part-$file%05d.tmp")
    val sb = new StringBuilder
    var i = from
    while (i < until) { sb.append(lines(i)).append(',').append(genMs).append('\n'); i += 1 }
    Files.writeString(tmp, sb)
    Files.move(tmp, Paths.get(dir, f"part-$file%05d.csv"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def stage(dir: String, lines: Array[String], perFile: Int, maxFiles: Int): Int = {
    new File(dir).mkdirs()
    val files = math.min(maxFiles, (lines.length + perFile - 1) / perFile)
    (0 until files).foreach(f =>
      land(dir, lines, f * perFile, math.min(lines.length, (f + 1) * perFile), f, 0L))
    math.min(lines.length, files * perFile)
  }

  private def progressOf(q: StreamingQuery, trace: Trace): Seq[StreamingQueryProgress] =
    if (trace.enabled) {
      trace.drain(q.sparkSession)
      trace.progress.asScala.map(_.progress).filter(_.id == q.id).toSeq
    } else q.recentProgress.toSeq

  def run(a: Main.Args, trace: Trace, r: Result): Unit = {
    val conf = new ObjectMapper().readTree(Paths.get(a.inputs, "stream.json").toFile)
    val cfg = Cfg(conf.get("rate").asInt, conf.get("tick_ms").asInt, conf.get("delay_s").asLong,
      conf.get("top_n").asInt, conf.get("size_s").asLong, conf.get("slide_s").asLong,
      conf.get("threshold").asInt)
    val work = a.work
    var lines: Array[String] = null
    var drained = 0

    val s = Setup.repeated(a, trace, r, streaming = true) { (s, i) =>
      if (lines == null)
        lines = s.read.parquet(Paths.get(a.inputs, "stream_events.parquet").toString)
          .orderBy("pos")
          .select(concat_ws(",", col("event_id"), col("user_id"), col("item_id"),
            col("category_id"), col("behavior"), col("is_click"), col("ad_id"), col("ts")))
          .collect().map(_.getString(0))
      // the drain backlog, and a short warm-up drain over its first files
      drained = stage(s"$work/backlog", lines, cfg.perFile, drainFiles)
      stage(s"$work/warm$i", lines, cfg.perFile, warmFiles)
      val p = start(s, cfg, trace, s"$work/warm$i", s"$work/ckpt/warm$i", Trigger.AvailableNow(),
        Some(drainFilesPerTrigger), s"warm$i")
      p.both.foreach(_.awaitTermination())
    }
    val backlogBytes = Disk.bytes(s"$work/backlog")

    // drain phase
    var drainWindow = (0.0, 0.0)
    var drainBatches = 0
    val drainBatchMs = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val ckptBytes = mutable.ArrayBuffer.empty[Double]
    val drainS = (0 until drains).map { i =>
      trace.span(s"drain.$i") {
        val t0 = trace.nowMs
        val p = start(s, cfg, trace, s"$work/backlog", s"$work/ckpt/drain$i", Trigger.AvailableNow(),
          Some(drainFilesPerTrigger), s"drain$i")
        p.both.foreach(_.awaitTermination())
        val secs = (trace.nowMs - t0) / 1e3
        if (i == 0) {
          drainWindow = (t0, trace.nowMs)
          dump(s"$work/check/drain", p, cfg, drained)
        }
        ckptBytes += Disk.bytes(s"$work/ckpt/drain$i").toDouble
        for ((q, name) <- Seq(p.topn -> "topn", p.bl -> "blacklist"))
          drainBatchMs(name) = drainBatchMs.getOrElse(name, Seq.empty[Double]) ++
            progressOf(q, trace).filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").toDouble)
        if (i == 0) drainBatches = p.both.map(q => progressOf(q, trace).count(_.numInputRows > 0)).sum
        afterPhase(p, trace, r, s"drain$i")
        secs
      }
    }

    // open-loop phase
    val landing = s"$work/landing"
    new File(landing).mkdirs()
    val open = start(s, cfg, trace, landing, s"$work/ckpt/open", Trigger.ProcessingTime(500L),
      None, "open")
    val lags = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Double]
    val ticks = math.min((a.seconds * 1000 / cfg.tickMs).toInt, lines.length / cfg.perFile)
    trace.span("open_loop") {
      val t0 = trace.nowMs
      (0 until ticks).foreach { i =>
        val due = t0 + i * cfg.tickMs
        val wait = due - trace.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        land(landing, lines, i * cfg.perFile, (i + 1) * cfg.perFile, i, due.toLong)
        lags += trace.nowMs - due
        if (trace.enabled) {
          val consumed = open.both.map { q =>
            trace.progress.asScala.map(_.progress).filter(_.id == q.id).map(_.numInputRows).sum
          }.min
          backlog += ((i + 1) * cfg.perFile - consumed).toDouble / cfg.perFile
        }
      }
      open.both.foreach(_.processAllAvailable())
    }
    open.both.foreach(_.stop())
    dump(s"$work/check/open", open, cfg, ticks * cfg.perFile)

    // latency samples: batch emission minus the newest consumed event's due time
    val latencies = mutable.ArrayBuffer.empty[Double]
    for ((q, emitted) <- Seq(open.topn -> open.topnSink.emittedAt, open.bl -> open.blSink.emittedAt)) {
      progressOf(q, trace).filter(_.numInputRows > 0).foreach { p =>
        val gen = Option(p.observedMetrics.get("lat")).filterNot(_.isNullAt(0)).map(_.getLong(0))
        for (g <- gen; e <- Option(emitted.get(p.batchId))) latencies += e - g
      }
    }
    afterPhase(open, trace, r, "open")

    val drainMedian = Stats.median(drainS)
    r.metric("pass_s", drainMedian)
    // checkpoint and state bytes vary with RocksDB's flush timing: median of the drains
    r.metric("write_amp", Stats.median(ckptBytes.toSeq) / backlogBytes)
    // per query, the median duration of its (fixed-size) drain batches
    r.metric("op_geomean_ms", Stats.geomean(drainBatchMs.values.map(Stats.median).toSeq))
    r.metric("latency_p50_ms", Stats.quantile(latencies.toSeq, 0.5))
    r.metric("latency_p90_ms", Stats.quantile(latencies.toSeq, 0.9))
    r.named("stream_drain_eps") = drained / drainMedian
    r.named("event_latency_p50_ms") = Stats.quantile(latencies.toSeq, 0.5)
    r.named("event_latency_p90_ms") = Stats.quantile(latencies.toSeq, 0.9)
    r.named("latency_samples") = latencies.size
    r.named("open_loop_events") = ticks * cfg.perFile
    r.named("open_loop_rate_eps") = cfg.rate
    r.named("drain_events") = drained

    if (a.trace) {
      r.layers("streaming.backlog_files") = Stats.median(backlog.toSeq)
      r.layers("streaming.generator_lag_ms") = Stats.quantile(lags.toSeq, 0.9)
      r.layers("operators.topn_emit_ms") = Stats.median(open.topnSink.emitMs.toSeq)
      r.layers("operators.topn_out_rows") = open.topnSink.outRows
      r.layers("operators.blacklist_out_rows") = open.blSink.outRows
      // engine numbers over the first drain, per micro-batch of either query
      val (d0, d1) = drainWindow
      val batches = math.max(1, drainBatches)
      Layers.row(d0, d1, trace.allStats.filter(_._1.endsWith(".drain0")).values.toSeq, a.cores,
        trace.planMsBetween(d0, d1)).foreach {
        case ("wall_ms", _) =>
        case (k @ ("spark.busy_ratio" | "spark.driver_only_ms"), v) => r.layers(k) = v
        case (k, v) => r.layers(k) = v / batches
      }
      for ((q, name) <- Seq(open.topn -> "topn", open.bl -> "blacklist")) {
        val ps = progressOf(q, trace).filter(_.numInputRows > 0)
        def dur(k: String) = Stats.median(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
        def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
          ps.map(_.stateOperators.map(f).sum.toDouble)
        r.layers(s"streaming.trigger_ms.$name") = dur("triggerExecution")
        r.layers(s"streaming.add_batch_ms.$name") = dur("addBatch")
        r.layers(s"streaming.query_planning_ms.$name") = dur("queryPlanning")
        r.layers(s"streaming.wal_commit_ms.$name") = dur("walCommit")
        r.layers(s"streaming.state_rows.$name") = state(_.numRowsTotal).max
        r.layers(s"streaming.state_mem_bytes.$name") = state(_.memoryUsedBytes).max
        r.layers(s"streaming.state_commit_ms.$name") = Stats.median(state(_.commitTimeMs))
        r.layers(s"streaming.rows_dropped_late.$name") = state(_.numRowsDroppedByWatermark).sum
      }
    }
  }

  /** Count batches as ops and fail on any event dropped as late. */
  private def afterPhase(p: Pair, trace: Trace, r: Result, phase: String): Unit =
    p.both.foreach { q =>
      val ps = progressOf(q, trace)
      r.attempted += ps.count(_.numInputRows > 0)
      val late = ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      r.check(late == 0, s"$phase/${q.name}: $late rows dropped as late")
      q.exception.foreach(e => r.fail(s"$phase/${q.name}: ${e.getMessage}"))
    }

  /** Final top-N and blacklist of a phase, for the batch recomputation. */
  private def dump(dir: String, p: Pair, cfg: Cfg, events: Int): Unit = {
    new File(dir).mkdirs()
    Files.writeString(Paths.get(dir, "topn.csv"),
      p.topnSink.topN(cfg.topN).map { case (w, i, c) => s"$w,$i,$c" }.mkString("\n"))
    Files.writeString(Paths.get(dir, "warnings.csv"),
      p.blSink.warnings.map { case (u, ad) => s"$u,$ad" }.mkString("\n"))
    Files.writeString(Paths.get(dir, "summary.json"),
      s"""{"events":$events,"main_clicks":${p.blSink.mainClicks}}""")
  }
}
