package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.queries.Catalog

/** `catalog_mix`: closed loop, one client. Each pass runs the chosen
  * catalog queries in a seeded order and fully materialises each result
  * with a `noop` write (a `count()` would let Catalyst prune columns no
  * one reads). An untimed first pass writes every result as parquet for
  * the DuckDB oracle check and warms the JVM.
  */
object CatalogMix {
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  val packOf: Map[String, String] = {
    import graft.queries._
    Seq("Relational" -> Relational.qs, "EventAnalytics" -> EventAnalytics.qs,
      "GraphOps" -> GraphOps.qs, "TextOps" -> TextOps.qs, "VectorOps" -> VectorOps.qs)
      .flatMap { case (p, qs) => qs.map(_.name -> p) }.toMap
  }

  def run(a: Main.Args, trace: Trace, r: Result): Unit = {
    val cfg = new ObjectMapper().readTree(Paths.get(a.inputs, "catalog.json").toFile)
    val names = cfg.get("queries").elements.asScala.map(_.asText).toSeq
    val orders = cfg.get("orders").elements.asScala
      .map(_.elements.asScala.map(_.asText).toSeq).toSeq
    val d = a.sf

    val s = Setup.repeated(a, trace, r, streaming = false) { (s, _) =>
      tables.foreach(t => graft.sources.Tables(s, d, t).schema)
    }

    // untimed check + warm-up pass: each result as one parquet file
    val checkDir = Paths.get(a.work, "check").toString
    trace.span("check_pass") {
      orders.head.foreach { n =>
        trace.span(s"check.$n") {
          Catalog.queries(n)(s, d).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
        }
      }
    }
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
      Json.obj(names.map(n => n -> Json.str(Catalog.oracleSql(n)))))

    // timed passes: at least two, and another only if it fits in --seconds
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val queryOps = scala.collection.mutable.ArrayBuffer.empty[(Op, Double, Double)]
    val t0 = trace.nowMs
    while (passes.size < 2 || trace.nowMs - t0 + Stats.median(passes.toSeq) * 1000 <= a.seconds * 1000) {
      val order = orders(1 + passes.size % (orders.size - 1))
      val p0 = trace.nowMs
      trace.span(s"pass.${passes.size}") {
        order.foreach { n =>
          r.attempted += 1
          try {
            var callMs, execMs = 0.0
            val (_, o) = trace.op(s, n, packOf.getOrElse(n, "other"), s"query.$n") {
              val c0 = trace.nowMs
              val df = trace.span("queries.call")(Catalog.queries(n)(s, d))
              val c1 = trace.nowMs
              trace.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
              callMs = c1 - c0
              execMs = trace.nowMs - c1
            }
            queryOps += ((o, callMs, execMs))
          } catch { case e: Exception => r.fail(s"$n: ${e.getMessage}") }
        }
      }
      passes += (trace.nowMs - p0) / 1e3
    }

    trace.drain(s)
    val byQuery = queryOps.groupBy(_._1.kind)
    val medians = byQuery.view.mapValues(xs => Stats.median(xs.map(_._1.ms).toSeq)).toMap
    val walls = queryOps.map(_._1.ms).toSeq
    val stats = queryOps.map(q => trace.statsOf(q._1.id))
    r.metric("pass_s", Stats.median(passes.toSeq))
    r.metric("op_geomean_ms", Stats.geomean(medians.values.toSeq))
    r.metric("latency_p50_ms", Stats.quantile(walls, 0.5))
    r.metric("latency_p90_ms", Stats.quantile(walls, 0.9))
    r.metric("write_amp",
      stats.map(x => x.shuffleWriteBytes + x.spillBytes).sum.toDouble / stats.map(_.inputBytes).sum)
    r.named("catalog_pass_s") = Stats.median(passes.toSeq)
    r.named("query_geomean_s") = Stats.geomean(medians.values.toSeq) / 1e3
    r.named("passes") = passes.size
    r.named("samples") = walls.size
    medians.foreach { case (n, ms) => r.named(s"query_ms.$n") = ms }

    if (a.trace) {
      val rows = queryOps.map { case (o, callMs, execMs) =>
        o -> (Layers.row(o, trace.statsOf(o.id), a.cores, trace.planMsBetween(o.startMs, o.endMs)) ++
          Map("queries.call_ms" -> callMs, "queries.exec_ms" -> execMs))
      }
      // per query: the median of each number over the timed passes
      rows.groupBy(_._1.kind).toSeq.sortBy(_._1).foreach { case (n, xs) =>
        val keys = xs.head._2.keys
        r.perOp += (n -> (keys.map(k => k -> Stats.median(xs.map(_._2(k)).toSeq)).toMap +
          ("pack_" + packOf.getOrElse(n, "other") -> 1.0)))
      }
      // workload level: median over every timed query execution
      rows.head._2.keys.filterNot(_ == "wall_ms").foreach { k =>
        r.layers(k) = Stats.median(rows.map(_._2(k)).toSeq)
      }
      // queries layer by pack: per-pass time in the pack's calls vs materialisation
      for ((pack, xs) <- rows.groupBy(_._1.group); k <- Seq("queries.call_ms", "queries.exec_ms"))
        r.layers(s"$k.$pack") = xs.map(_._2(k)).sum / passes.size
    }
  }
}
