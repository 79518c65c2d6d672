package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{IndexManifest, StoredIndex, Tables}

/** The erasure orchestrator: one "forget these docs/users" call fans
  * out to every deployed stored artifact, and the crash/resume
  * protocol (manifest epochs as the ledger) never double-subtracts.
  * Per-family forget CORRECTNESS is pinned by each family's own spec —
  * this suite drives the orchestration: fixed order, prefix-commit on
  * failure, epoch-snapshot resume.
  */
class ErasureSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsDf: DataFrame =
    Tables.documents(spark, sf).select($"doc_id", $"text")

  private def embDf: DataFrame = {
    graft.functions.GraftFunctions.registerDotD(spark) // vecs()'s contract
    Tables.embeddings(spark, sf)
  }

  private def evsDf: DataFrame =
    Tables.events(spark, sf)
      .withColumn("item", regexp_extract($"props", "(\\d+)", 1).cast("long"))

  /** Build the full doc-grain fleet rooted at fresh temp dirs. */
  private def buildDocFleet(): Erasure.DocTargets = {
    val t = Erasure.DocTargets(
      postings = Some(tmp("era-post")),
      lsh = Some(tmp("era-lsh")),
      shingle = Some(tmp("era-shingle")),
      scd2 = Some(tmp("era-scd2")),
      ivfPq = Some(tmp("era-ivfpq")),
      bq = Some(tmp("era-bq")),
      sq8 = Some(tmp("era-sq8")))
    SearchOps.writePostingsIndex(docsDf, t.postings.get)
    TextOps.writeLshIndex(docsDf, t.lsh.get)
    TextOps.writeShingleIndex(docsDf, t.shingle.get)
    TextOps.writeScd2(docsDf, 0L, t.scd2.get)
    VectorOps.writeIvfPqIndex(embDf, t.ivfPq.get)
    VectorOps.writeBqIndex(embDf, t.bq.get)
    VectorOps.writeSq8Index(embDf, t.sq8.get)
    t
  }

  test("doc erasure: crash mid-fan-out commits a prefix; epoch-snapshot resume finishes without double-subtract") {
    val targets = buildDocFleet()
    val gone = docsDf.filter($"doc_id" % 11 === 0)

    // the caller's ledger entry, recorded BEFORE the call
    val snapshot = Erasure.committedEpochs(targets.ordered)
    assert(snapshot.values.forall(_ == 0L))

    // planted crash: shingle forgetting needs text, and this frame has
    // only ids — the 3rd family in the fixed order throws before its
    // commit, so exactly {postings, lsh} advanced
    intercept[Exception] {
      Erasure.forgetDocs(gone.select($"doc_id"), targets)
    }
    val afterCrash = Erasure.committedEpochs(targets.ordered)
    assert(afterCrash("postings") === 1L && afterCrash("lsh") === 1L)
    assert(afterCrash("shingle") === 0L && afterCrash("scd2") === 0L &&
      afterCrash("ivfpq") === 0L && afterCrash("bq") === 0L)

    // resume: the snapshot tells which families the crash reached
    val rem = targets.remaining(snapshot)
    assert(rem.postings.isEmpty && rem.lsh.isEmpty,
      "committed families must drop out of the resume set")
    assert(rem.shingle.nonEmpty && rem.scd2.nonEmpty &&
      rem.ivfPq.nonEmpty && rem.bq.nonEmpty && rem.sq8.nonEmpty)
    Erasure.forgetDocs(gone, rem) // full frame this time (text present)
    val done = Erasure.committedEpochs(targets.ordered)
    assert(done.values.forall(_ == 1L),
      "every family must have advanced EXACTLY once across crash + resume")

    // no double-subtract: the crash+resume postings stats equal a
    // clean single-shot erasure on a twin index
    val twin = tmp("era-post-twin")
    SearchOps.writePostingsIndex(docsDf, twin)
    SearchOps.deleteFromPostingsIndex(gone.select($"doc_id"), twin)
    def comp(p: String, c: String) =
      IndexManifest.readRewrite(spark, p, c, IndexManifest.Postings)
        .collect().map(_.toSeq).toSet
    assert(comp(targets.postings.get, "corpus") === comp(twin, "corpus"))
    assert(comp(targets.postings.get, "terms") === comp(twin, "terms"))

    // behavioral spot-checks: the erased ids are gone from resolved views
    val goneIds = gone.select($"doc_id").as[Long].collect().toSet
    assert(goneIds.nonEmpty)
    val lshDocs = StoredIndex.Lsh.resolved(spark, targets.lsh.get)
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(lshDocs.intersect(goneIds).isEmpty)
  }

  test("durable doc erasure: crash, then resume FROM DISK ONLY — no double-subtract, intent completes") {
    val targets = buildDocFleet()
    val root = tmp("era-intent")
    val gone = docsDf.filter($"doc_id" % 11 === 0)

    // planted crash after 2 families — the caller keeps NOTHING
    intercept[RuntimeException] {
      Erasure.forgetDocsDurable(gone, targets, root, failAfter = 2)
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_intent.ledger")))
    val afterCrash = Erasure.committedEpochs(targets.ordered)
    assert(afterCrash("postings") === 1L && afterCrash("lsh") === 1L)
    assert(afterCrash("shingle") === 0L && afterCrash("bq") === 0L)

    // a second durable request over the pending intent fails fast
    intercept[IllegalArgumentException] {
      Erasure.forgetDocsDurable(gone, targets, root)
    }

    // resume: only the SparkSession and the root path — request,
    // targets, and snapshot all come off disk
    Erasure.resumeForgetDocs(spark, root)
    val done = Erasure.committedEpochs(targets.ordered)
    assert(done.values.forall(_ == 1L),
      "every family advanced EXACTLY once across crash + disk-only resume")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_intent.ledger")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_completed.ledger")))

    // double-subtract provably impossible: a RE-RESUME after completion
    // has no intent to act on, and stats equal a clean one-shot twin
    intercept[IllegalArgumentException] { Erasure.resumeForgetDocs(spark, root) }
    val twin = tmp("era-post-twin2")
    SearchOps.writePostingsIndex(docsDf, twin)
    SearchOps.deleteFromPostingsIndex(gone.select($"doc_id"), twin)
    def comp(p: String, c: String) =
      IndexManifest.readRewrite(spark, p, c, IndexManifest.Postings)
        .collect().map(_.toSeq).toSet
    assert(comp(targets.postings.get, "corpus") === comp(twin, "corpus"))
    assert(comp(targets.postings.get, "terms") === comp(twin, "terms"))
    // and the shingle stats (the family AFTER the crash point) match a
    // one-shot twin too — resume really ran it exactly once
    val shTwin = tmp("era-shingle-twin2")
    TextOps.writeShingleIndex(docsDf, shTwin)
    TextOps.forgetShingleDocs(gone, shTwin)
    def shingleCounts(p: String) =
      TextOps.storedShingleDf(spark, p)
        .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    assert(shingleCounts(targets.shingle.get) === shingleCounts(shTwin))
  }

  test("durable user erasure: crash before transition, disk-only resume finishes with the persisted slice") {
    val co = tmp("era-co-dur"); val tr = tmp("era-tr-dur")
    GraphOps.writeCooccurIndex(evsDf, co)
    GraphOps.writeTransitionGraph(evsDf, tr)
    val targets = Erasure.UserTargets(cooccur = Some(co), transition = Some(tr))
    val users = evsDf.filter($"user_id" % 13 === 0).select($"user_id").distinct()
    val root = tmp("era-intent-u")
    intercept[RuntimeException] {
      Erasure.forgetUsersDurable(users, targets, Some(evsDf), root, failAfter = 1)
    }
    assert(Erasure.committedEpochs(targets.ordered) ===
      Map("cooccur" -> 1L, "transition" -> 0L))
    Erasure.resumeForgetUsers(spark, root)
    assert(Erasure.committedEpochs(targets.ordered).values.forall(_ == 1L))
    // transition equals a rebuild without those users — the persisted
    // slice carried everything resume needed
    val reb = tmp("era-tr-dur-reb")
    GraphOps.writeTransitionGraph(
      evsDf.join(users, Seq("user_id"), "left_anti"), reb)
    def edges(dir: String) =
      IndexManifest.readRewrite(spark, dir, "edges", IndexManifest.Transition)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(edges(tr) === edges(reb))
  }

  test("durable user erasure: crash before the EVENT TABLE, disk-only resume still tombstones the source log") {
    // The round-16 defect drill: resumeForgetUsers used to rebuild
    // UserTargets without the `table` target, so exactly this crash
    // point (cooccur+transition committed, table not yet) resumed to a
    // false "completed" with the erased users still readable in the
    // source log. The drill crashes before the LAST family and demands
    // the resumed table both advanced its manifest epoch and serves a
    // scan without the users.
    val co = tmp("era-co-d3"); val tr = tmp("era-tr-d3"); val tbl = tmp("era-tbl-d3")
    GraphOps.writeCooccurIndex(evsDf, co)
    GraphOps.writeTransitionGraph(evsDf, tr)
    LayoutOps.writeEventTable(Tables.events(spark, sf), tbl, nFiles = 4)
    val targets = Erasure.UserTargets(
      cooccur = Some(co), transition = Some(tr), table = Some(tbl))
    val users = evsDf.filter($"user_id" % 13 === 0).select($"user_id").distinct()
    val root = tmp("era-intent-u3")

    intercept[RuntimeException] {
      Erasure.forgetUsersDurable(users, targets, Some(evsDf), root, failAfter = 2)
    }
    assert(Erasure.committedEpochs(targets.ordered) ===
      Map("cooccur" -> 1L, "transition" -> 1L, "table" -> 0L),
      "crash point: cooccur+transition committed, table untouched " +
        "(still at its write-time epoch 0)")
    // the users are still readable in the source log — exactly the
    // state a dropped-table resume would freeze forever
    val goneUsers = users.as[Long].collect().toSet
    val beforeResume = LayoutOps.readEventTable(spark, tbl)
      .select($"user_id").distinct().as[Long].collect().toSet
    assert(beforeResume.intersect(goneUsers).nonEmpty,
      "precondition: the crash left the users live in the table")

    Erasure.resumeForgetUsers(spark, root)
    assert(IndexManifest.committedEpoch(tbl, IndexManifest.Layout) === 1L,
      "resume must advance the table's manifest epoch (the tombstone commit)")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_intent.ledger")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_completed.ledger")))
    val afterResume = LayoutOps.readEventTable(spark, tbl)
      .select($"user_id").distinct().as[Long].collect().toSet
    assert(afterResume.intersect(goneUsers).isEmpty && afterResume.nonEmpty,
      "the source log must not be the one place erased users survive")
    // committed families were not double-processed: cooccur/transition
    // epochs still 1 after resume
    assert(Erasure.committedEpochs(targets.ordered) ===
      Map("cooccur" -> 1L, "transition" -> 1L, "table" -> 1L))
  }

  test("user erasure fans out to all three user-grain artifacts; transition requires the event slice") {
    val co = tmp("era-cooccur")
    val tr = tmp("era-transition")
    val tbl = tmp("era-ztable")
    GraphOps.writeCooccurIndex(evsDf, co)
    GraphOps.writeTransitionGraph(evsDf, tr)
    LayoutOps.writeEventTable(Tables.events(spark, sf), tbl, nFiles = 4)
    val targets = Erasure.UserTargets(
      cooccur = Some(co), transition = Some(tr), table = Some(tbl))

    val users = evsDf.filter($"user_id" % 13 === 0).select($"user_id").distinct()
    // the contract: transition erasure without the slice fails fast
    intercept[IllegalArgumentException] {
      Erasure.forgetUsers(users, targets)
    }
    Erasure.forgetUsers(users, targets, userEvs = Some(evsDf))
    assert(Erasure.committedEpochs(targets.ordered).values.forall(_ == 1L))

    val goneUsers = users.as[Long].collect().toSet
    val uiUsers = StoredIndex.Cooccur.resolved(spark, co)
      .select($"user_id").distinct().as[Long].collect().toSet
    assert(uiUsers.intersect(goneUsers).isEmpty)
    // the SOURCE LOG forgot them too — the table leg of the fan-out
    val tblUsers = LayoutOps.readEventTable(spark, tbl)
      .select($"user_id").distinct().as[Long].collect().toSet
    assert(tblUsers.intersect(goneUsers).isEmpty && tblUsers.nonEmpty)
    // transition: equals a rebuild without those users (edge grain)
    val reb = tmp("era-transition-reb")
    GraphOps.writeTransitionGraph(
      evsDf.join(users, Seq("user_id"), "left_anti"), reb)
    def edges(dir: String) =
      IndexManifest.readRewrite(spark, dir, "edges", IndexManifest.Transition)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(edges(tr) === edges(reb))
  }
}
