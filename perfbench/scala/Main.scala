package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against graft's public
  * entry points and writes `result.json` (metrics, op counts, layer
  * numbers, env) plus `spans.json` into `--work`. `run.py` starts it,
  * adds the checks that need an independent oracle, and prints the
  * final record.
  */
object Main {
  final case class Args(
      workload: String, inputs: String, work: String, seconds: Double, trace: Boolean,
      plant: Boolean, cores: Int, sf: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble, m("trace") == "1",
      m.get("plant").contains("1"), m("cores").toInt, m("sf"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val trace = new Trace(a.trace, countBytes = a.workload == "catalog_mix")
    val r = new Result(a, trace)
    try a.workload match {
      case "catalog_mix"     => CatalogMix.run(a, trace, r)
      case "event_stream"    => EventStream.run(a, trace, r)
      case "index_lifecycle" => IndexLifecycle.run(a, trace, r)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    r.named("peak_rss_mb") = Env.peakRssMb
    SparkSession.getActiveSession.foreach(_.stop())
    r.write()
    if (a.trace) Files.writeString(Paths.get(a.work, "spans.json"), trace.spansJson)
    sys.exit(0)
  }
}

/** What a workload reports. */
final class Result(a: Main.Args, trace: Trace) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]       // end to end
  val named = mutable.LinkedHashMap.empty[String, Double]         // the workload's own names
  val layers = mutable.LinkedHashMap.empty[String, Double]        // per layer (traced run)
  val perOp = mutable.ArrayBuffer.empty[(String, Map[String, Double])]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(k: String, v: Double): Unit = metrics(k) = v
  def fail(msg: String): Unit = { failures += msg; failed += 1 }
  def check(ok: Boolean, msg: => String): Unit = { attempted += 1; if (!ok) fail(msg) }

  def write(): Unit = {
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "metrics" -> Json.nums(metrics.toMap),
      "workload_metrics" -> Json.nums(named.toMap),
      "layers" -> Json.nums(layers.toMap),
      "per_op" -> Json.arr(perOp.map { case (k, m) => Json.obj(Seq("op" -> Json.str(k), "layers" -> Json.nums(m))) }),
      "env" -> Env.json(a.cores),
    ))
    Files.writeString(Paths.get(a.work, "result.json"), json)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

object Env {
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def json(cores: Int): String = Json.obj(Seq(
    "spark_cores" -> cores.toString,
    "jvm_processors" -> Runtime.getRuntime.availableProcessors.toString,
    "jvm_version" -> Json.str(System.getProperty("java.version")),
    "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
    "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
  ))
}

/** Session lifecycle and the repeated set-up measurement. */
object Setup {
  def session(a: Main.Args, trace: Trace, streaming: Boolean): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val b =
      if (streaming) graft.GraftSession.streamingBuilder("perfbench", a.cores.toString)
      else graft.GraftSession.builder("perfbench", a.cores.toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    trace.attach(s)
    s
  }

  /** Set up `reps` times (a fresh session each time, then `work`) and
    * report the median as `setup_s`; the last session stays up for the
    * timed phase. The first repetition also pays JVM start-up and class
    * loading, recorded on its own as `setup_cold_s`. */
  def repeated(a: Main.Args, trace: Trace, r: Result, streaming: Boolean, reps: Int = 3)(
      work: (SparkSession, Int) => Unit): SparkSession = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val times = (0 until reps).map { i =>
      trace.span(s"setup.$i") {
        val t0 = System.nanoTime()
        val s = session(a, trace, streaming)
        work(s, i)
        val secs = (System.nanoTime() - t0) / 1e9
        if (i == 0) r.named("setup_cold_s") = (System.currentTimeMillis() - jvmStart) / 1e3
        secs
      }
    }
    r.metric("setup_s", Stats.median(times))
    SparkSession.active
  }
}

object Disk {
  /** Bytes of every regular file under `dir` (0 when absent). */
  def bytes(dir: String): Long = {
    val f = new File(dir)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytes(c.getPath)).sum).getOrElse(0L)
  }

  /** path -> size of every regular file under `dir`. */
  def listing(dir: String): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isFile) out(f.getPath) = f.length
      else Option(f.listFiles).foreach(_.foreach(walk))
    walk(new File(dir))
    out.toMap
  }

  def deleteRecursive(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursive))
    f.delete()
  }
}
