package perfbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{SearchOps, VectorOps}
import graft.sources.{IndexMaintenance, IndexManifest, Tables}

/** `index_lifecycle`: closed loop, one client, writes beside reads. Set-up
  * builds a postings index over a 60% slice of `documents` and an IVF-PQ
  * index over a 60% slice of `embeddings`; each round then appends a
  * held-out slice to both, serves BM25, dense and hybrid requests,
  * forgets seeded ids from both, and compacts and vacuums both.
  */
object IndexLifecycle {
  final case class Round(addDocs: Seq[Long], addVecs: Seq[Long], forgetDocs: Seq[Long],
      forgetVecs: Seq[Long])
  final case class Request(terms: Seq[String], langs: Seq[String])

  private def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq
  private def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq

  /** Every request kind against one pair of index roots, as rows (BM25
    * in rank order, the others sorted). */
  final class Serve(s: SparkSession, probes: DataFrame, pairs: DataFrame, k: Int, trace: Trace) {
    /** (call, exec) ms of the last request: the `queries` function call,
      * which includes any job it runs eagerly, and the collect. */
    var lastSplit = (0.0, 0.0)

    private def rows(call: => DataFrame): Seq[String] = {
      val t0 = trace.nowMs
      val df = trace.span("queries.call")(call)
      val t1 = trace.nowMs
      val out = trace.span("queries.exec")(df.collect()).map(_.toString).toSeq
      lastSplit = (t1 - t0, trace.nowMs - t1)
      out
    }

    def bm25(p: String, terms: Seq[String]): Seq[String] =
      rows(SearchOps.bm25SearchFromIndex(s, p, terms, k))
    def ivfpq(v: String): Seq[String] =
      rows(VectorOps.ivfPqSearchFromIndex(s, v, probes, k = k.toLong, excludeSelf = false)).sorted
    def hybrid(p: String, v: String, terms: Seq[String]): Seq[String] =
      rows(SearchOps.hybridSearchBatchFromIndexes(s, p, v, terms, probes, k, pairs,
        excludeSelf = false)).sorted
  }

  private def fields(row: String): Array[Long] =
    row.stripPrefix("[").stripSuffix("]").split(",").map(_.toLong)

  def run(a: Main.Args, trace: Trace, r: Result): Unit = {
    val cfg = new ObjectMapper().readTree(Paths.get(a.inputs, "index.json").toFile)
    val docs0 = longs(cfg.get("docs0"))
    val vecs0 = longs(cfg.get("vecs0"))
    val rounds = cfg.get("rounds").elements.asScala.map(n => Round(longs(n.get("append_docs")),
      longs(n.get("append_vecs")), longs(n.get("forget_docs")), longs(n.get("forget_vecs")))).toSeq
    val requests = cfg.get("requests").elements.asScala
      .map(n => Request(strs(n.get("terms")), strs(n.get("langs")))).toSeq
    val k = cfg.get("k").asInt
    val d = a.sf
    def root(i: Any) = Paths.get(a.work, s"idx$i").toString

    def docs(s: SparkSession, ids: Seq[Long]) =
      Tables.documents(s, d).filter(col("doc_id").isin(ids: _*))
    def vecs(s: SparkSession, ids: Seq[Long]) =
      Tables.embeddings(s, d).filter(col("vec_id").isin(ids: _*))

    val s = Setup.repeated(a, trace, r, streaming = false) { (s, i) =>
      trace.span("sources.build.postings")(SearchOps.writePostingsIndex(docs(s, docs0), s"${root(i)}/postings"))
      trace.span("sources.build.ivfpq")(VectorOps.writeIvfPqIndex(vecs(s, vecs0), s"${root(i)}/ivfpq"))
    }
    (0 until 2).foreach(i => Disk.deleteRecursive(new File(root(i))))
    import s.implicits._
    val p = s"${root(2)}/postings"
    val v = s"${root(2)}/ivfpq"

    val probes = s.read.parquet(Paths.get(a.inputs, "probes.parquet").toString)
    // hybrid eligibility: request q may be served the documents in its languages
    val langOf = Tables.documents(s, d).select("doc_id", "lang").collect()
      .map(row => row.getLong(0) -> row.getString(1))
    val pairs = requests.zipWithIndex.flatMap { case (rq, q) =>
      langOf.collect { case (id, l) if rq.langs.contains(l) => (q.toLong, id) }
    }.toDF("query_id", "doc_id")
    val serve = new Serve(s, probes, pairs, k, trace)

    var bytesWritten, filesWritten = 0L
    val forgottenD, forgottenV = mutable.Set.empty[Long]
    val live = mutable.Set.empty[Long] ++ docs0
    val liveV = mutable.Set.empty[Long] ++ vecs0
    val appendedD = mutable.ArrayBuffer.empty[Long]
    val appendedV = mutable.ArrayBuffer.empty[Long]
    val roundS = mutable.ArrayBuffer.empty[Double]
    var dirsVacuumed, fsckIssues = 0L
    val serveSplits = mutable.ArrayBuffer.empty[(Double, Double)]

    /** A write op on one family: timed, and the bytes it leaves counted. */
    def write(kind: String, family: String, dir: String)(body: => Unit): Unit = {
      val before = Disk.listing(dir)
      r.attempted += 1
      try trace.op(s, kind, family, s"sources.$kind.$family")(body)
      catch { case e: Exception => r.fail(s"$kind/$family: ${e.getMessage}") }
      val added = Disk.listing(dir).filter { case (f, n) => !before.get(f).contains(n) }
      bytesWritten += added.values.sum
      filesWritten += added.size
    }
    /** A serve op; `leaks` names the forgotten ids its rows contain. */
    def read(kind: String, leaks: Array[Long] => Boolean)(body: => Seq[String]): Unit = {
      r.attempted += 1
      try {
        val (rows, _) = trace.op(s, kind, "serve", s"serve.$kind")(body)
        serveSplits += serve.lastSplit
        val leaked = rows.filter(row => leaks(fields(row)))
        r.check(leaked.isEmpty, s"$kind served forgotten ids: ${leaked.take(3).mkString(" ")}")
      } catch { case e: Exception => r.fail(s"serve/$kind: ${e.getMessage}") }
    }

    val t0 = trace.nowMs
    var round = 0
    // whole rounds: at least three (the first is the coldest), and another
    // only if it fits in --seconds
    while (round < rounds.size &&
        (round < 3 || trace.nowMs - t0 + roundS.last * 1000 <= a.seconds * 1000)) {
      val rd = rounds(round)
      val rq = requests(round % requests.size)
      val r0 = trace.nowMs
      trace.span(s"round.$round") {
        write("append", "postings", p)(SearchOps.appendPostingsIndex(docs(s, rd.addDocs), p))
        write("append", "ivfpq", v)(VectorOps.appendIvfPqIndex(vecs(s, rd.addVecs), v))
        appendedD ++= rd.addDocs; appendedV ++= rd.addVecs
        live ++= rd.addDocs; liveV ++= rd.addVecs
        // rows: bm25 (doc_id, score); ivfpq (query_id, vec_id, ...);
        // hybrid (query_id, doc_id, rank_sparse, rank_dense, ...)
        read("bm25", f => forgottenD(f(0)))(serve.bm25(p, rq.terms))
        read("ivfpq", f => forgottenV(f(1)))(serve.ivfpq(v))
        read("hybrid", f => f(2) >= 0 && forgottenD(f(1)) || f(3) >= 0 && forgottenV(f(1)))(
          serve.hybrid(p, v, rq.terms))
        // a planted fault keeps the first forgotten id in both indexes
        val skip = if (a.plant && round == 0) 1 else 0
        write("forget", "postings", p)(
          SearchOps.deleteFromPostingsIndex(rd.forgetDocs.drop(skip).toDF("doc_id"), p))
        write("forget", "ivfpq", v)(
          VectorOps.deleteFromIvfPqIndex(rd.forgetVecs.drop(skip).toDF("vec_id"), v))
        forgottenD ++= rd.forgetDocs; forgottenV ++= rd.forgetVecs
        live --= rd.forgetDocs; liveV --= rd.forgetVecs
        write("compact", "postings", p)(SearchOps.compactPostingsIndex(s, p))
        write("compact", "ivfpq", v)(VectorOps.compactIvfPqIndex(s, v))
        write("vacuum", "postings", p)(dirsVacuumed += IndexManifest.vacuum(p, IndexManifest.Postings))
        write("vacuum", "ivfpq", v)(dirsVacuumed += IndexManifest.vacuum(v, IndexManifest.IvfPq))
      }
      roundS += (trace.nowMs - r0) / 1e3
      round += 1
    }
    val indexBytes = Disk.bytes(p) + Disk.bytes(v)

    // checks: fsck clean, and every request served from the lifecycled
    // indexes equals the same request against indexes freshly written
    // over the live rows
    trace.span("check") {
      val findings = IndexMaintenance.fsck(s, Seq("postings" -> p, "ivfpq" -> v))
        .filter($"finding" =!= "ok").collect()
      fsckIssues = findings.length
      r.check(findings.isEmpty, s"fsck: ${findings.mkString("; ")}")
      val fp = s"${root("fresh")}/postings"
      val fv = s"${root("fresh")}/ivfpq"
      SearchOps.writePostingsIndex(docs(s, live.toSeq.sorted), fp)
      VectorOps.writeIvfPqIndex(vecs(s, liveV.toSeq.sorted), fv)
      val terms = requests.head.terms
      r.check(serve.bm25(p, terms) == serve.bm25(fp, terms), s"bm25 $terms differs from a fresh index")
      r.check(serve.ivfpq(v) == serve.ivfpq(fv), "ivfpq differs from a fresh index")
    }

    // plain-parquet bytes of the rows ingested, and of the live rows
    def plainBytes(name: String, ds: Seq[Long], vs: Seq[Long]): Long = {
      val out = Paths.get(a.work, "plain", name).toString
      docs(s, ds).coalesce(1).write.mode("overwrite").parquet(s"$out/docs")
      vecs(s, vs).coalesce(1).write.mode("overwrite").parquet(s"$out/vecs")
      Disk.bytes(out)
    }
    val ingested = plainBytes("ingested", appendedD.toSeq, appendedV.toSeq)
    val liveBytes = plainBytes("live", live.toSeq.sorted, liveV.toSeq.sorted)

    trace.drain(s)
    val opMs = trace.ops.groupBy(_.kind).view.mapValues(_.map(_.ms).toSeq).toMap
    val writeMs = trace.ops.toSeq.filter(o => Set("append", "forget", "compact")(o.kind))
    val serveMs = trace.ops.toSeq.filter(_.group == "serve")
    val allMs = trace.ops.toSeq.filter(_.kind != "vacuum").map(_.ms)
    r.metric("pass_s", Stats.median(roundS.toSeq))
    r.metric("op_geomean_ms", Stats.geomean(
      Seq("append", "forget", "compact").flatMap(k => opMs.get(k).map(Stats.median)) :+
        Stats.median(serveMs.map(_.ms))))
    r.metric("latency_p50_ms", Stats.quantile(allMs, 0.5))
    r.metric("latency_p90_ms", Stats.quantile(allMs, 0.9))
    r.metric("write_amp", bytesWritten.toDouble / ingested)
    for (k <- Seq("append", "forget", "compact"); xs <- opMs.get(k))
      r.named(s"${k}_p50_s") = Stats.median(xs) / 1e3
    r.named("serve_p50_s") = Stats.median(serveMs.map(_.ms)) / 1e3
    r.named("write_amp") = bytesWritten.toDouble / ingested
    r.named("space_amp") = indexBytes.toDouble / liveBytes
    r.named("rounds") = roundS.size
    r.named("samples") = allMs.size

    if (a.trace) {
      for (o <- writeMs ++ trace.ops.toSeq.filter(_.kind == "vacuum"))
        r.layers(s"sources.${o.kind}_ms.${o.group}") = Stats.median(
          trace.ops.toSeq.filter(x => x.kind == o.kind && x.group == o.group).map(_.ms))
      r.layers("sources.bytes_written") = bytesWritten
      r.layers("sources.files_written") = filesWritten
      r.layers("sources.live_epochs") =
        Seq(p -> IndexManifest.Postings, v -> IndexManifest.IvfPq).map { case (path, f) =>
          val st = IndexManifest.committedState(path, f); st.epoch - st.baseEpoch + 1
        }.sum
      r.layers("sources.dirs_vacuumed") = dirsVacuumed
      r.layers("sources.fsck_issues") = fsckIssues
      r.layers("sources.max_concurrent_jobs") =
        writeMs.map(o => trace.statsOf(o.id).maxActive.toDouble).max
      r.layers("sources.space_amp") = indexBytes.toDouble / liveBytes
      for (kind <- Seq("bm25", "ivfpq", "hybrid"))
        r.layers(s"serve.${kind}_ms") = Stats.median(serveMs.filter(_.kind == kind).map(_.ms))
      r.layers("serve.input_bytes") = Stats.median(serveMs.map(o => trace.statsOf(o.id).inputBytes.toDouble))
      r.layers("queries.call_ms") = Stats.median(serveSplits.map(_._1).toSeq)
      r.layers("queries.exec_ms") = Stats.median(serveSplits.map(_._2).toSeq)
      val rows = (writeMs ++ serveMs).map(o =>
        o -> Layers.row(o, trace.statsOf(o.id), a.cores, trace.planMsBetween(o.startMs, o.endMs)))
      rows.head._2.keys.filterNot(_ == "wall_ms").foreach { k =>
        r.layers(k) = Stats.median(rows.map(_._2(k)))
      }
      rows.groupBy(x => s"${x._1.kind}.${x._1.group}").toSeq.sortBy(_._1).foreach { case (n, xs) =>
        r.perOp += (n -> xs.head._2.keys.map(k => k -> Stats.median(xs.map(_._2(k)))).toMap)
      }
    }
  }
}
