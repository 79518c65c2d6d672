package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

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
    assert(GraphOps.resolvedUi(spark, cdir).count() === 6L)
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
}
