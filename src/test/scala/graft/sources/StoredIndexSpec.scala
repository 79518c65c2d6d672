package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{GraphOps, TextOps, VectorOps}

/** The declared lifecycle: the single-writer guard every compaction
  * inherits from [[StoredIndex.compact]], the janitor reading each root
  * at its own family format, the advisor counting every declared
  * tombstone component, and [[Overlap]] stopping siblings on failure.
  */
class StoredIndexSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    "file://" + java.nio.file.Files.createTempDirectory(prefix).toString

  test("every family tag resolves to exactly one declaration") {
    val fams = Seq(IndexManifest.Postings, IndexManifest.Lsh, IndexManifest.Shingle,
      IndexManifest.IvfPq, IndexManifest.Bq, IndexManifest.Sq8, IndexManifest.Cooccur,
      IndexManifest.Transition, IndexManifest.Scd2, IndexManifest.Layout)
    assert(StoredIndex.byFamily.keySet === fams.map(_.family).toSet)
    fams.foreach(f => assert(StoredIndex.formatOf(f.family) === f))
    assert(StoredIndex.formatOf("no-such-family") === IndexManifest.AnyFamily)
  }

  test("compact refuses to raise the floor over a writer that landed mid-fold") {
    val dir = tmp("shingle-race")
    val docs = Seq((1L, "a b c d e f g h"), (2L, "c d e f g h i j")).toDF("doc_id", "text")
    TextOps.writeShingleIndex(docs, dir)
    TextOps.appendShingleIndex(Seq((3L, "k l m n o p q r")).toDF("doc_id", "text"), dir)
    val before = TextOps.storedShingleDf(spark, dir).collect().toSet
    // the stage closure plants a foreign commit at the epoch the
    // compaction is staging: the floor raise would erase it
    val ex = intercept[java.util.ConcurrentModificationException] {
      StoredIndex.Shingle.compact(spark, dir, fold = Some { e =>
        IndexManifest.advance(dir, e, IndexManifest.Shingle)
      })
    }
    assert(ex.getMessage.contains("single-writer contract"))
    assert(IndexManifest.committedState(dir, IndexManifest.Shingle) ===
      IndexManifest.State(2, 2L, 0L, "shingle"),
      "the manifest must stay at the foreign epoch with its floor unraised")
    assert(TextOps.storedShingleDf(spark, dir).collect().toSet === before)
  }

  test("vacuum with no format reads each root at its own family version") {
    // IVF-PQ and cooccur are format v3, the wildcard format v2
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val vdir = tmp("ivfpq-vacuum")
    VectorOps.writeIvfPqIndex(emb, vdir)
    VectorOps.appendIvfPqIndex(emb.filter($"vec_id" % 13 === 0).limit(4)
      .select(($"vec_id" + maxId + 1).as("vec_id"), $"embedding", $"label"), vdir)
    VectorOps.compactIvfPqIndex(spark, vdir)

    val evs = Seq((1L, Some("i1")), (1L, Some("i2")), (2L, Some("i1")),
      (2L, Some("i3"))).toDF("user_id", "item")
    val cdir = tmp("cooccur-vacuum")
    GraphOps.writeCooccurIndex(evs, cdir)
    GraphOps.appendCooccurIndex(Seq((3L, Some("i2")), (3L, Some("i3")))
      .toDF("user_id", "item"), cdir)
    GraphOps.compactCooccurIndex(spark, cdir)

    Seq(vdir, cdir).foreach { dir =>
      assert(IndexManifest.staleDirs(dir).nonEmpty, s"$dir has superseded epochs")
      assert(IndexManifest.vacuum(dir) > 0L)
      assert(IndexManifest.staleDirs(dir).isEmpty)
    }
    // the compacted heads still read
    assert(StoredIndex.IvfPq.resolved(spark, vdir).count() > 0L)
    assert(StoredIndex.Cooccur.resolved(spark, cdir).count() === 6L)
  }

  test("advisor counts scd2 purge tombstones") {
    val dir = tmp("scd2-advise")
    TextOps.writeScd2(Seq((1L, "a"), (2L, "x")).toDF("doc_id", "text"), 0L, dir)
    TextOps.appendScd2Snapshot(Seq((1L, "b"), (2L, "x")).toDF("doc_id", "text"), 1L, dir)
    TextOps.purgeScd2Docs(Seq(1L).toDF("doc_id"), dir)
    val r = IndexMaintenance.advise(spark, Seq("scd2" -> dir)).head()
    assert(r.getAs[String]("family") === "scd2")
    assert(r.getAs[Long]("del_rows") > 0L)
    assert(r.getAs[String]("action") === "compact" && r.getAs[String]("reason") === "dels")
    // the advised compaction makes the purge physical and empties dels
    TextOps.compactScd2(spark, dir)
    assert(IndexMaintenance.advise(spark, Seq("scd2" -> dir)).head()
      .getAs[Long]("del_rows") === 0L)
  }

  test("Overlap: a failing task stops its siblings before run rethrows") {
    val started = new CountDownLatch(1)
    val stopped = new AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      // the failing task comes first: awaiting the tasks in declaration
      // order would rethrow at once, with the sibling still running
      Overlap.run(
        "fail" -> { () =>
          started.await(30L, TimeUnit.SECONDS)
          throw new IllegalStateException("planted")
        },
        "slow" -> { () =>
          started.countDown()
          try Thread.sleep(60000L)
          catch { case _: InterruptedException => () }
          finally stopped.set(true)
        })
    }
    assert(ex.getMessage === "planted")
    assert(stopped.get, "a sibling was still running when run() rethrew")
  }

  test("Overlap: a failing task cancels a sibling's running Spark job") {
    val returned = new AtomicBoolean(false)
    val tracker = spark.sparkContext.statusTracker
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      Overlap.run(
        "fail" -> { () =>
          // fail only once the sibling's job is running
          while (tracker.getActiveJobIds().isEmpty) Thread.sleep(20L)
          throw new IllegalStateException("planted")
        },
        "job" -> { () =>
          try spark.sparkContext.parallelize(1 to 2, 2).foreach { _ =>
            val ctx = org.apache.spark.TaskContext.get()
            val until = System.nanoTime() + 60000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < until) Thread.sleep(20L)
          } finally returned.set(true)
        })
    }
    assert(returned.get, "the sibling was still running when run() rethrew")
    // the job itself is cancelled, not just abandoned by its thread (the
    // status tracker trails the scheduler by a listener-bus hop)
    val deadline = System.nanoTime() + 10000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50L)
    assert(tracker.getActiveJobIds().isEmpty, "the sibling's job kept running")
    assert(System.nanoTime() - t0 < 50000000000L, "run waited out the sibling job")
  }

  /** A committed transition graph whose `edges` count component is
    * exactly `edges` (items as strings, the stored schema).
    */
  private def edgesIndex(edges: Seq[(String, String, Long)]): String = {
    val dir = tmp("count-merge")
    val T = StoredIndex.Transition
    T.build(spark, dir)(
      "edges" -> (() => T.write(edges.toDF("src", "dst", "w"), dir, "edges", 0L)),
      "nodes" -> (() => T.write(Seq("a").toDF("item"), dir, "nodes", 0L)))
    dir
  }

  private def counts(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
    df.as[(String, String, Long)].collect().toSet

  test("add inserts a key absent from the base and sums a present one") {
    val dir = edgesIndex(Seq(("a", "b", 3L), ("b", "c", 1L)))
    val delta = Seq(("a", "b", 2L), ("c", "d", 4L)).toDF("src", "dst", "w")
    assert(counts(StoredIndex.Transition.add(spark, dir, "edges", delta)) ===
      Set(("a", "b", 5L), ("b", "c", 1L), ("c", "d", 4L)))
  }

  test("giveBack drops a key whose count reaches 0 and leaves untouched keys alone") {
    val dir = edgesIndex(Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "d", 5L)))
    val delta = Seq(("a", "b", 1L), ("b", "c", 1L)).toDF("src", "dst", "w")
    assert(counts(StoredIndex.Transition.giveBack(spark, dir, "edges", delta)) ===
      Set(("a", "b", 2L), ("c", "d", 5L)))
  }

  test("a sequential family's append stage runs its tasks on the caller thread, in order") {
    val caller = Thread.currentThread()
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, Thread)]()
    def task(name: String): StoredIndex.Task =
      name -> { () => ran.add(name -> Thread.currentThread()); () }
    StoredIndex.Transition.run(task("edges"), task("nodes"))
    assert(ran.asScala.toSeq === Seq("edges" -> caller, "nodes" -> caller))
    ran.clear()
    StoredIndex.Lsh.run(task("bands"), task("bucket_counts"))
    assert(ran.asScala.toSeq.forall(_._2 ne caller), "an overlapped family runs on the pool")

    // the append stage itself: Overlap tags every job its pool runs, so
    // no job of a sequential stage may carry that tag
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).map(_.getProperty("spark.job.tags", "")).getOrElse(""))
    }
    val sc = spark.sparkContext
    def jobsOf(body: => Unit): Seq[String] = {
      tags.clear()
      sc.addSparkListener(listener)
      try {
        body
        // a marker job drains the listener bus: events arrive in order
        val marker = s"drain-${java.util.UUID.randomUUID()}"
        sc.addJobTag(marker)
        try sc.parallelize(1 to 1, 1).count() finally sc.removeJobTag(marker)
        val deadline = System.nanoTime() + 30000000000L
        while (!tags.asScala.exists(_.contains(marker)) && System.nanoTime() < deadline)
          Thread.sleep(20L)
        tags.asScala.toSeq.filterNot(_.contains(marker))
      } finally sc.removeSparkListener(listener)
    }
    def job(name: String): StoredIndex.Task =
      name -> { () => sc.parallelize(1 to 2, 2).count(); () }
    val overlapped = jobsOf(StoredIndex.Lsh.run(job("a"), job("b")))
    assert(overlapped.nonEmpty && overlapped.forall(_.contains("graft-overlap-")),
      s"an overlapped run's jobs carry the Overlap tag: $overlapped")
    val evs = Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "b"), (2L, 1L, 3L, "b"), (2L, 2L, 4L, "c"))
      .toDF("user_id", "ts_sec", "event_id", "item")
    val dir = tmp("transition-seq")
    GraphOps.writeTransitionGraph(evs, dir)
    val staged = jobsOf(GraphOps.stageTransitionAppend(
      Seq((1L, 3L, 5L, "c"), (1L, 4L, 6L, "a")).toDF("user_id", "ts_sec", "event_id", "item"),
      dir, 1L))
    assert(staged.nonEmpty && !staged.exists(_.contains("graft-overlap-")),
      s"a sequential stage ran a job on the Overlap pool: $staged")
  }

  test("outside sources/, no code names a component's epoch path or runs its own Overlap") {
    import java.nio.file.{Files, Paths}
    val main = Paths.get("src", "main", "scala", "graft")
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.startsWith(main.resolve("sources")))
      .toSeq
    assert(files.size > 20, "source scan found too little — layout drifted")
    // an epochDir outside sources/ may only be read back (the SQ8
    // floor stats, the zone map's data read-back), never written
    val epochRead = """read\.parquet\((graft\.sources\.)?IndexManifest\.epochDir\(""".r
    val hits = files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      def count(needle: String): Int =
        java.util.regex.Pattern.quote(needle).r.findAllMatchIn(text).size
      Seq(
        "readRewrite(" -> count("readRewrite("),
        "readAppendOnly(" -> count("readAppendOnly("),
        "epochDir( outside read.parquet" ->
          (count("epochDir(") - epochRead.findAllMatchIn(text).size),
        // CurationOps' overlapped drills run independent roots, not one
        // family's stage
        "Overlap.run" -> (if (p.endsWith("CurationOps.scala")) 0 else count("Overlap.run")))
        .collect { case (what, n) if n > 0 => s"$p: $n x $what" }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
