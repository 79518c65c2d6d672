package graft.queries

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.{IndexManifest, LedgerIO}
import graft.streaming.Streams

/** Erasure under a foreign writer: a family the crashed erasure never
  * reached must not be skipped because an out-of-band writer moved its
  * manifest. Both the durable resume and the erasure stream's replay
  * must throw, and leave every manifest and the pending ledger entry
  * as they found them.
  */
class ErasureLedgerSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private val docs = Seq(
    (1L, "spark join window spark filter"), (2L, "join window filter shuffle"),
    (3L, "spark filter map reduce"), (4L, "window map reduce join"),
    (5L, "spark reduce join window"))

  private def docsDf = docs.toDF("doc_id", "text")

  private def fleet(): Erasure.DocTargets = {
    val t = Erasure.DocTargets(postings = Some(tmp("el-post")),
      lsh = Some(tmp("el-lsh")), shingle = Some(tmp("el-shingle")))
    SearchOps.writePostingsIndex(docsDf, t.postings.get)
    TextOps.writeLshIndex(docsDf, t.lsh.get)
    TextOps.writeShingleIndex(docsDf, t.shingle.get)
    t
  }

  private def manifests(t: Erasure.DocTargets): Map[String, String] =
    t.ordered.map { case (tag, p) =>
      tag -> LedgerIO.readIfExists(LedgerIO.child(p, "_graft_manifest.json")).get
    }.toMap

  /** Two out-of-band LSH appends: the LSH head moves two epochs. */
  private def foreignLshAppends(t: Erasure.DocTargets): Unit = {
    TextOps.appendLshIndex(Seq((90L, "foreign append one")).toDF("doc_id", "text"), t.lsh.get)
    TextOps.appendLshIndex(Seq((91L, "foreign append two")).toDF("doc_id", "text"), t.lsh.get)
  }

  test("durable doc erasure: a foreign LSH writer after the crash fails the resume loudly") {
    val t = fleet()
    val root = tmp("el-intent")
    intercept[RuntimeException] {
      Erasure.forgetDocsDurable(docsDf.filter($"doc_id" === 2L), t, root, failAfter = 1)
    }
    assert(Erasure.committedEpochs(t.ordered) ===
      Map("postings" -> 1L, "lsh" -> 0L, "shingle" -> 0L))
    foreignLshAppends(t)
    val before = manifests(t)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Erasure.resumeForgetDocs(spark, root)
    }
    assert(ex.getMessage.contains("single-writer violation") &&
      ex.getMessage.contains("'lsh'") && ex.getMessage.contains("committed epoch 2"),
      ex.getMessage)
    assert(manifests(t) === before, "the violation must move no manifest")
    assert(Files.exists(Paths.get(root, "_intent.ledger")), "the intent stays pending")
    assert(!Files.exists(Paths.get(root, "_completed.ledger")))
  }

  test("erasure stream: a foreign LSH writer before the replay fails it loudly") {
    val t = fleet()
    val ledger = tmp("el-ledger")
    // plant a crash after postings: the LSH forget reads its committed
    // bucket counts, so the batch fails there once they are moved aside
    val counts = Paths.get(t.lsh.get, "bucket_counts")
    val aside = Paths.get(t.lsh.get + "-bucket_counts")
    Files.move(counts, aside)
    intercept[Exception] {
      Streams.applyErasureBatch(docsDf.filter($"doc_id" === 2L), t, ledger, batchId = 0L)
    }
    Files.move(aside, counts)
    assert(Erasure.committedEpochs(t.ordered) ===
      Map("postings" -> 1L, "lsh" -> 0L, "shingle" -> 0L))
    foreignLshAppends(t)
    val before = manifests(t)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Streams.applyErasureBatch(docsDf.filter($"doc_id" === 2L), t, ledger, batchId = 0L)
    }
    assert(ex.getMessage.contains("single-writer violation") &&
      ex.getMessage.contains("'lsh'") && ex.getMessage.contains("committed epoch 2"),
      ex.getMessage)
    assert(manifests(t) === before, "the violation must move no manifest")
    assert(Files.exists(Paths.get(ledger, "batch-0.ledger")), "the batch entry stays")
    assert(IndexManifest.committedEpoch(t.shingle.get, IndexManifest.Shingle) === 0L)
  }
}
