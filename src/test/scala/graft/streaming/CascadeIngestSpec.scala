package graft.streaming

import graft.SparkSpec
import graft.queries.VectorOps
import graft.sources.{IndexManifest, StoredIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The standing cascade ingest: every micro-batch must land in BOTH
  * stored tiers, a replayed batch must never double-append (the
  * duplicate-id tier-2 fan-out hazard), and a crash between the two
  * tier appends must heal on replay from disk alone — the streaming
  * twin of CascadePairSpec's durable-append drills.
  */
class CascadeIngestSpec extends SparkSpec {

  private val rnd = new scala.util.Random(1833)
  private def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def df(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    spark.createDataset(rows).toDF("vec_id", "embedding")
  }

  private def audit(bq: String, sq: String): (Long, Long, Long) = {
    val r = VectorOps.cascadeCoverageAudit(spark, bq, sq).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def epochs(bq: String, sq: String): (Long, Long) =
    (IndexManifest.committedEpoch(bq, IndexManifest.Bq),
      IndexManifest.committedEpoch(sq, IndexManifest.Sq8))

  private def buildPair(n: Long): (String, String, Seq[(Long, Array[Float])]) = {
    val base = (0L until n).map(i => (i, vec()))
    val bq = tmp("cing-bq"); val sq = tmp("cing-sq8")
    VectorOps.writeBqIndex(df(base), bq)
    VectorOps.writeSq8Index(df(base), sq)
    (bq, sq, base)
  }

  test("standing ingest lands every batch in both tiers and the new vectors serve") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (bq, sq, base) = buildPair(20L)

    val b1 = (100L until 105L).map(i => (i, vec()))
    val b2 = (200L until 202L).map(i => (i, vec()))
    val mem = MemoryStream[(Long, Array[Float])]
    val ckpt = tmp("cing-ckpt")
    val q = Streams.cascadeIngestStream(
      mem.toDF().toDF("vec_id", "embedding"), bq, sq, ckpt)
    try {
      mem.addData(b1)
      q.processAllAvailable()
      assert(audit(bq, sq) === ((25L, 0L, 0L)),
        "batch 1 must land in BOTH tiers — no straddle survives the batch")
      assert(epochs(bq, sq) === ((1L, 1L)))
      mem.addData(b2)
      q.processAllAvailable()
      assert(audit(bq, sq) === ((27L, 0L, 0L)))
      assert(epochs(bq, sq) === ((2L, 2L)))
    } finally q.stop()

    // the ingested vector is served end to end: querying with 200's own
    // embedding must rank 200 itself first (excludeSelf off)
    val corpus = df(base ++ b1 ++ b2)
    val req = spark.createDataset(Seq((200L, b2.head._2)))
      .toDF("query_id", "embedding")
    val top = VectorOps.searchCascadeIndex(req, bq, sq, corpus)
      .orderBy("rnk").collect()
    assert(top.head.getAs[Long]("cand_id") === 200L,
      "a vector landed by the ingest stream must be servable")
  }

  test("live lifecycle: ingest and serve streams run together; a landed delta serves next batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (bq, sq, base) = buildPair(15L)
    val v700 = vec()
    // the float store the serve reranks against is the deployment's
    // remote fetch tier — a superset is fine (the INDEX decides
    // visibility, which is exactly what this drill pins)
    val corpus = df(base :+ (700L -> v700))

    val deltas = MemoryStream[(Long, Array[Float])]
    val requests = MemoryStream[(Long, Array[Float])]
    val out = tmp("cing-live-out")
    val ingest = Streams.cascadeIngestStream(
      deltas.toDF().toDF("vec_id", "embedding"), bq, sq, tmp("cing-live-ick"))
    val serve = Streams.cascadeServeStream(
      requests.toDF().toDF("query_id", "embedding"), bq, sq, corpus,
      out, tmp("cing-live-sck"))
    try {
      // request BEFORE the ingest: 700 is not in either artifact, so the
      // serve's top-1 for its embedding is some base vector, never 700
      requests.addData(Seq((9000L, v700)))
      serve.processAllAvailable()
      val before = spark.read.option("basePath", out).parquet(out)
        .filter($"query_id" === 9000L && $"rnk" === 1L)
        .select($"cand_id").collect().map(_.getLong(0))
      assert(before.nonEmpty && before.head != 700L,
        "an unserved id must not be servable before its ingest batch lands")

      // the delta lands through the standing ingest...
      deltas.addData(Seq((700L, v700)))
      ingest.processAllAvailable()
      assert(audit(bq, sq) === ((16L, 0L, 0L)))

      // ...and the NEXT request batch serves it (per-batch epoch following)
      requests.addData(Seq((9001L, v700)))
      serve.processAllAvailable()
      val after = spark.read.option("basePath", out).parquet(out)
        .filter($"query_id" === 9001L && $"rnk" === 1L)
        .select($"cand_id").collect().map(_.getLong(0))
      assert(after.toSeq === Seq(700L),
        "the vector landed by ingest batch N must serve from the next request batch")
    } finally { ingest.stop(); serve.stop() }
  }

  test("replay of a landed batch is a no-op: epochs, coverage, and code rows unchanged") {
    val (bq, sq, _) = buildPair(10L)
    val ledger = tmp("cing-ledger")
    val delta = (300L until 303L).map(i => (i, vec()))

    Streams.applyCascadeIngestBatch(df(delta), bq, sq, ledger, batchId = 0L)
    assert(epochs(bq, sq) === ((1L, 1L)))
    assert(audit(bq, sq) === ((13L, 0L, 0L)))

    // Structured Streaming replays the SAME batchId after an offset
    // loss; the completed marker must short-circuit the re-append —
    // a blind re-run would put two live codes rows per delta id into
    // tier 2 (the advisor's duplicate fan-out hazard)
    Streams.applyCascadeIngestBatch(df(delta), bq, sq, ledger, batchId = 0L)
    assert(epochs(bq, sq) === ((1L, 1L)), "replay must not advance either manifest")
    assert(audit(bq, sq) === ((13L, 0L, 0L)))
    val codeRows = StoredIndex.Sq8.resolved(spark, sq)
      .filter(org.apache.spark.sql.functions.col("vec_id") >= 300L).count()
    assert(codeRows === 3L, "exactly one live codes row per ingested id")
  }

  test("crash between the tier appends: the replayed batch heals from disk alone") {
    val (bq, sq, _) = buildPair(12L)
    val ledger = tmp("cing-crash")
    val delta = (400L until 404L).map(i => (i, vec()))

    val ex = intercept[RuntimeException] {
      Streams.applyCascadeIngestBatch(df(delta), bq, sq, ledger,
        batchId = 0L, failAfter = 1)
    }
    assert(ex.getMessage.contains("planted crash"))
    assert(audit(bq, sq) === ((12L, 4L, 0L)),
      "the crash window leaves the documented bq-only divergence")

    // the stream restarts and replays batch 0: the pending intent must
    // route to the resume path and restore coverage without re-running
    // the already-committed BQ append
    Streams.applyCascadeIngestBatch(df(delta), bq, sq, ledger, batchId = 0L)
    assert(audit(bq, sq) === ((16L, 0L, 0L)), "resume restores the coverage contract")
    assert(epochs(bq, sq) === ((1L, 1L)), "neither tier appends twice")

    // and a THIRD delivery (offsets lost again, after the heal) no-ops
    Streams.applyCascadeIngestBatch(df(delta), bq, sq, ledger, batchId = 0L)
    assert(epochs(bq, sq) === ((1L, 1L)))
    assert(audit(bq, sq) === ((16L, 0L, 0L)))
  }

  test("a foreign append landing mid-pair makes the resume fail loudly, naming the epoch") {
    val (bq, sq, _) = buildPair(10L)
    val ledger = tmp("cing-foreign")
    val delta = (600L until 603L).map(i => (i, vec()))

    // crash between the tier appends: bq landed (epoch 1), sq8 pending
    intercept[RuntimeException] {
      Streams.applyCascadeIngestBatch(df(delta), bq, sq, ledger,
        batchId = 0L, failAfter = 1)
    }
    // an out-of-band writer then takes the sq8 manifest TWICE — past
    // anything this batch's own single commit could explain
    VectorOps.appendSq8Index(df(Seq((900L, vec()))), sq)
    VectorOps.appendSq8Index(df(Seq((901L, vec()))), sq)
    assert(epochs(bq, sq) === ((1L, 2L)))

    val ex = intercept[java.util.ConcurrentModificationException] {
      Streams.applyCascadeIngestBatch(df(delta), bq, sq, ledger, batchId = 0L)
    }
    assert(ex.getMessage.contains("single-writer violation") &&
      ex.getMessage.contains("sq8") && ex.getMessage.contains("epoch 2"),
      s"must name the foreign tier and epoch, got: ${ex.getMessage}")
    assert(epochs(bq, sq) === ((1L, 2L)),
      "the violation must not resume the half-append (zero guessing)")
  }

  test("settled batch roots are pruned; the in-flight batch's root survives") {
    import java.nio.file.{Files, Paths}
    val (bq, sq, _) = buildPair(8L)
    val ledger = tmp("cing-prune")

    Streams.applyCascadeIngestBatch(df(Seq((500L, vec()))), bq, sq, ledger, 0L)
    assert(Files.exists(Paths.get(ledger, "batch-0", "_completed.ledger")),
      "the completed marker must survive until the NEXT batch (replay window)")
    Streams.applyCascadeIngestBatch(df(Seq((501L, vec()))), bq, sq, ledger, 1L)
    assert(!Files.exists(Paths.get(ledger, "batch-0")),
      "batch 0 settled when batch 1 ran - its root must be gone")
    assert(Files.exists(Paths.get(ledger, "batch-1", "_completed.ledger")))
    assert(audit(bq, sq) === ((10L, 0L, 0L)))
  }

  test("dedupIds: a vec_id redelivered in a LATER batch is dropped, not double-appended") {
    val (bq, sq, _) = buildPair(10L)
    val ledger = tmp("cing-redeliver")
    val v600 = vec()

    Streams.applyCascadeIngestBatch(
      df(Seq((600L, v600), (601L, vec()))), bq, sq, ledger, 0L, dedupIds = true)
    assert(epochs(bq, sq) === ((1L, 1L)))
    // an at-least-once upstream re-sends 600 under a NEW batchId (the
    // per-batch ledger can't catch this) alongside a genuinely new id
    Streams.applyCascadeIngestBatch(
      df(Seq((600L, v600), (602L, vec()))), bq, sq, ledger, 1L, dedupIds = true)
    assert(audit(bq, sq) === ((13L, 0L, 0L)))
    val codeRows = StoredIndex.Sq8.resolved(spark, sq)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 600L).count()
    assert(codeRows === 1L, "the redelivered id must stay single-rowed in tier 2")
    // a batch that is ALL redelivery appends nothing and bumps no epoch
    Streams.applyCascadeIngestBatch(
      df(Seq((600L, v600))), bq, sq, ledger, 2L, dedupIds = true)
    assert(epochs(bq, sq) === ((2L, 2L)), "all-duplicate batch must not advance epochs")
  }

  test("an empty batch neither advances the manifests nor leaves a ledger root") {
    import java.nio.file.{Files, Paths}
    val (bq, sq, _) = buildPair(6L)
    val ledger = tmp("cing-empty")
    Streams.applyCascadeIngestBatch(df(Seq.empty), bq, sq, ledger, 0L)
    assert(epochs(bq, sq) === ((0L, 0L)), "no epoch bump for an empty delta")
    assert(!Files.exists(Paths.get(ledger, "batch-0")),
      "an empty batch must leave no root - nothing for the pruner to chase")
    assert(audit(bq, sq) === ((6L, 0L, 0L)))
  }
}
