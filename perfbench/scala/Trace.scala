package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters Spark's listeners attribute to one benchmark op. An op is
  * named by the `perfbench.op` local property set on the calling thread;
  * Spark copies local properties into threads that thread starts, so jobs
  * from a stream's execution thread or an `Overlap` pool count for the op
  * that started them.
  */
final class OpStats {
  var jobs, stages, tasks = 0L
  var schedDelayMs, runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var active, maxActive = 0L // concurrently running jobs
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // (launch, finish) epoch ms
}

/** One timed op as the benchmark saw it, from the calling thread. */
final case class Op(id: String, kind: String, group: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans, op timings and (when `enabled`) Spark listener counters.
  *
  * End-to-end numbers come from an untraced run, which attaches the Spark
  * listener only when `countBytes` (catalog_mix's `write_amp` reads its
  * byte counters). The traced run adds the listeners' per-op counters,
  * planning phases and the span tree.
  */
final class Trace(val enabled: Boolean, countBytes: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  // ---- spans ------------------------------------------------------------
  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double)
  private val spanIds = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  // inherited, so spans on a thread a span started (a stream's execution
  // thread, an Overlap pool) hang under that span
  private val stack = new InheritableThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = spanIds.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = nowMs
    try body
    finally {
      spans.add(Span(id, parent, name, t0, nowMs))
      stack.set(stack.get.tail)
    }
  }

  // ---- ops --------------------------------------------------------------
  val ops = mutable.ArrayBuffer.empty[Op]
  private val opSeq = new AtomicLong(0)

  /** Time `body` as one op under span `spanName`; jobs it starts are
    * tagged with the op id. */
  def op[T](spark: SparkSession, kind: String, group: String, spanName: String)(body: => T): (T, Op) = {
    val id = s"$kind#${opSeq.incrementAndGet()}"
    tagged(spark, id) {
      val t0 = nowMs
      val r = span(spanName)(body)
      val o = Op(id, kind, group, t0, nowMs)
      ops.synchronized(ops += o)
      (r, o)
    }
  }

  /** Tag jobs started on this thread (and threads it starts) with `id`. */
  def tagged[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, id)
    try body finally sc.setLocalProperty(OpKey, prev)
  }

  // ---- listeners --------------------------------------------------------
  val OpKey = "perfbench.op"
  private val stats = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  def statsOf(id: String): OpStats = stats.computeIfAbsent(id, _ => new OpStats)
  def allStats: Map[String, OpStats] = stats.asScala.toMap

  private val planPhases = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("untagged")
      e.stageIds.foreach(stageOp.put(_, id))
      jobOp.put(e.jobId, id)
      if (enabled) {
        val s = statsOf(id)
        s.synchronized {
          s.jobs += 1
          s.stages += e.stageIds.size
          s.active += 1
          s.maxActive = math.max(s.maxActive, s.active)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (enabled) {
        val s = statsOf(jobOp.getOrDefault(e.jobId, "untagged"))
        s.synchronized(s.active -= 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val s = statsOf(stageOp.getOrDefault(e.stageId, "untagged"))
      val i = e.taskInfo
      s.synchronized {
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        if (enabled) {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          s.taskIntervals += ((i.launchTime, i.finishTime))
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        planPhases.add((ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.durationMs).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register on a (new) session: the Spark listener when tracing or
    * counting bytes, the others only when tracing. */
  def attach(spark: SparkSession): Unit = {
    if (enabled || countBytes) spark.sparkContext.addSparkListener(sparkListener)
    if (enabled) {
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }
  }

  /** Wait until Spark's listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Planning time (analysis + optimization + planning) of the queries
    * whose first phase started inside [from, to]. Ops are sequential on
    * the closed-loop workloads, so the window attributes exactly. */
  def planMsBetween(from: Double, to: Double): Long =
    planPhases.asScala.collect { case (t, d) if t >= from - 1 && t <= to + 1 => d }.sum

  def spansJson: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Layer numbers derived from the counters of a set of ops. */
object Layers {
  /** Wall time inside [from, to] during which no task of these ops ran. */
  def driverOnlyMs(from: Double, to: Double, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.map { case (a, b) => (math.max(a.toDouble, from), math.min(b.toDouble, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (curE.isNaN || a > curE) {
          if (!curE.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (!curE.isNaN) covered += curE - curS
    math.max(0.0, (to - from) - covered)
  }

  /** Layer row of the ops whose counters are `ss`, over the window
    * [from, to]: counts, busy ratio and driver-only time. */
  def row(from: Double, to: Double, ss: Seq[OpStats], cores: Int, planMs: Long): Map[String, Double] = {
    def sum(f: OpStats => Long) = ss.map(s => s.synchronized(f(s))).sum.toDouble
    val wall = to - from
    Map(
      "spark.plan_ms" -> planMs.toDouble,
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.sched_delay_ms" -> sum(_.schedDelayMs),
      "spark.exec_run_ms" -> sum(_.runMs),
      "spark.exec_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "spark.gc_ms" -> sum(_.gcMs),
      "spark.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "spark.spill_bytes" -> sum(_.spillBytes),
      "spark.busy_ratio" -> (if (wall > 0) sum(_.runMs) / (wall * cores) else 0.0),
      "spark.driver_only_ms" ->
        driverOnlyMs(from, to, ss.flatMap(s => s.synchronized(s.taskIntervals.toSeq))),
      "wall_ms" -> wall,
    )
  }

  def row(o: Op, s: OpStats, cores: Int, planMs: Long): Map[String, Double] =
    row(o.startMs, o.endMs, Seq(s), cores, planMs)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
