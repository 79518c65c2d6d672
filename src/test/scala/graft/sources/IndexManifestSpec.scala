package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.{GraphOps, SearchOps, TextOps, VectorOps}

/** The commit-marker protocol: fail-fast on unreadable stock, and the
  * kill-between-the-writes drill for every appender — stage an epoch
  * WITHOUT committing (exactly what a crash mid-append leaves behind),
  * prove readers still see the old index, then retry the full append
  * and prove the result equals a union-corpus rebuild (the retry
  * overwrote the orphan stage instead of double-counting it).
  */
class IndexManifestSpec extends SparkSpec {

  import spark.implicits._

  // fully-qualified file:// URIs: the whole manifest protocol in this
  // suite runs through the Hadoop-FS control plane (LedgerIO)
  private def tmp(prefix: String): String =
    "file://" + java.nio.file.Files.createTempDirectory(prefix).toString

  test("reader fails fast on a missing manifest and on format-version skew") {
    val none = tmp("manifest-none")
    val e1 = intercept[IllegalStateException](IndexManifest.committedEpoch(none))
    assert(e1.getMessage.contains("rebuild the index"))

    val old = tmp("manifest-old")
    LedgerIO.writeAtomic(LedgerIO.child(old, "_graft_manifest.json"),
      "._graft_manifest.skew.tmp", """{"format_version": 1, "epoch": 3}""")
    val e2 = intercept[IllegalStateException](IndexManifest.committedEpoch(old))
    assert(e2.getMessage.contains("format_version 1"))
    assert(e2.getMessage.contains("rebuild the index"))
  }

  test("commit flips atomically and read round-trips the state") {
    val dir = tmp("manifest-rt")
    IndexManifest.commit(dir, 0L)
    assert(IndexManifest.committedEpoch(dir) === 0L)
    IndexManifest.commit(dir, 7L)
    assert(IndexManifest.read(dir) ===
      Some(IndexManifest.State(IndexManifest.FormatVersion, 7L)))
  }

  test("killed LSH append: invisible to readers; retry equals a union rebuild") {
    def doc(seed: Int): String = (1 to 12).map(i => s"w${seed}_$i").mkString(" ")
    val base = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val delta = Seq((11L, doc(7)), (12L, doc(8))).toDF("doc_id", "text")
    val probe = Seq((20L, doc(7)), (21L, doc(2)), (22L, doc(9))).toDF("doc_id", "text")

    val dir = tmp("lsh-kill")
    TextOps.writeLshIndex(base, dir)
    def verdicts() = TextOps.deltaNearDupFromIndex(probe, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = verdicts()
    assert(before === Map(20L -> "kept", 21L -> "neardup_of_base", 22L -> "kept"))

    // crash: stage epoch 1, never commit — the screen must not move
    TextOps.stageLshAppend(delta, dir, 1L)
    assert(IndexManifest.committedEpoch(dir) === 0L)
    assert(verdicts() === before, "uncommitted stage leaked into reads")

    // retry the FULL append (stage again + commit) — copies of the delta
    // now collide, and the index equals one built from the union corpus
    TextOps.appendLshIndex(delta, dir)
    assert(IndexManifest.committedEpoch(dir) === 1L)
    assert(verdicts() === Map(
      20L -> "neardup_of_base", 21L -> "neardup_of_base", 22L -> "kept"))
    val rebuilt = tmp("lsh-reb")
    TextOps.writeLshIndex(base.unionByName(delta), rebuilt)
    def counts(d: String) = IndexManifest.readRewrite(spark, d, "bucket_counts")
      .collect().map(r => (r.getInt(0), r.getStruct(1).toString) -> r.getLong(2)).toMap
    assert(counts(dir) === counts(rebuilt),
      "retry after kill must not double-count the staged bands")
    // and the raw band rows agree with the counts (no orphan duplicates)
    val recount = IndexManifest.readAppendOnly(spark, dir, "bands")
      .groupBy($"band", $"bkey").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getStruct(1).toString) -> r.getLong(2)).toMap
    assert(recount === counts(dir))
  }

  test("killed postings append: invisible; retry equals a union rebuild") {
    val docs = Seq(
      (1L, "spark join window spark"), (2L, "join window filter"),
      (3L, "spark filter")).toDF("doc_id", "text")
    val delta = Seq((10L, "spark spark join"), (11L, "window")).toDF("doc_id", "text")
    val q = Seq("spark", "join", "window")

    val dir = tmp("post-kill")
    SearchOps.writePostingsIndex(docs, dir)
    def top(d: String) = SearchOps.bm25SearchFromIndex(spark, d, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = top(dir)

    SearchOps.stagePostingsAppend(delta, dir, 1L)
    assert(IndexManifest.committedEpoch(dir) === 0L)
    assert(top(dir) === before, "uncommitted postings stage leaked into search")

    SearchOps.appendPostingsIndex(delta, dir)
    val rebuilt = tmp("post-reb")
    SearchOps.writePostingsIndex(docs.unionByName(delta), rebuilt)
    assert(top(dir) === top(rebuilt))
    def corpus(d: String) = {
      val r = IndexManifest.readRewrite(spark, d, "corpus").first()
      (r.getLong(0), r.getLong(1))
    }
    assert(corpus(dir) === corpus(rebuilt),
      "retry must not double-advance the corpus totals")
  }

  test("compaction: reader equality, raised window floor, appendable after, kill-safe") {
    val docs = Seq(
      (1L, "spark join window alpha"), (2L, "join window beta"),
      (3L, "spark gamma")).toDF("doc_id", "text")
    val day2 = Seq((10L, "spark delta"), (11L, "join epsilon")).toDF("doc_id", "text")
    val day3 = Seq((20L, "window zeta spark")).toDF("doc_id", "text")
    val q = Seq("spark", "join", "window")
    val dir = tmp("post-compact")
    SearchOps.writePostingsIndex(docs, dir)
    SearchOps.appendPostingsIndex(day2, dir)
    SearchOps.appendPostingsIndex(day3, dir)
    def top(d: String) = SearchOps.bm25SearchFromIndex(spark, d, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def posts(d: String) = IndexManifest.readAppendOnly(spark, d, "postings")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("t"),
        r.getAs[Long]("tf"))).toSet
    val beforeTop = top(dir)
    val beforePosts = posts(dir)

    // kill drill: stage the REAL postings compaction (exactly what
    // compactPostingsIndex stages) and die before the flip — reads frozen
    StoredIndex.Postings.stageCompaction(spark, dir,
      IndexManifest.committedState(dir, IndexManifest.Postings), e = 3L)
    assert(IndexManifest.committedState(dir) === IndexManifest.State(2, 2L, 0L, "postings"))
    assert(top(dir) === beforeTop && posts(dir) === beforePosts,
      "uncommitted compaction leaked into reads")

    // real compaction (stages again over the orphan, then flips)
    SearchOps.compactPostingsIndex(spark, dir)
    assert(IndexManifest.committedState(dir) === IndexManifest.State(2, 3L, 3L, "postings"),
      "compaction must raise the window floor to its own epoch")
    assert(top(dir) === beforeTop, "compaction changed search results")
    assert(posts(dir) === beforePosts, "compaction changed the posting rows")
    // the compacted window reads exactly ONE epoch level
    val dirs = LedgerIO.listStatus(LedgerIO.child(dir, "postings"))
      .map(_.getPath.getName).filter(_.startsWith("epoch=")).toSet
    assert(dirs.contains("epoch=3"))

    // the index stays appendable and union-equal after compaction
    val day4 = Seq((30L, "spark join")).toDF("doc_id", "text")
    SearchOps.appendPostingsIndex(day4, dir)
    val rebuilt = tmp("post-compact-reb")
    SearchOps.writePostingsIndex(
      docs.unionByName(day2).unionByName(day3).unionByName(day4), rebuilt)
    assert(top(dir) === top(rebuilt))
    assert(posts(dir) === posts(rebuilt))
  }

  test("compaction across the other families: LSH, IVF-PQ, SCD2 read-equal") {
    // LSH
    def doc(seed: Int): String = (1 to 12).map(i => s"c${seed}_$i").mkString(" ")
    val base = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
    val probe = Seq((20L, doc(2)), (21L, doc(9))).toDF("doc_id", "text")
    val ldir = tmp("lsh-compact")
    TextOps.writeLshIndex(base, ldir)
    TextOps.appendLshIndex(Seq((11L, doc(7))).toDF("doc_id", "text"), ldir)
    def verdicts() = TextOps.deltaNearDupFromIndex(probe, ldir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val vBefore = verdicts()
    TextOps.compactLshIndex(spark, ldir)
    assert(verdicts() === vBefore)
    assert(IndexManifest.committedState(ldir).baseEpoch === 2L)

    // IVF-PQ
    graft.functions.GraftFunctions.registerDotD(spark)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val arrivals = emb.filter($"vec_id" % 13 === 0).limit(8)
      .select(($"vec_id" + maxId + 1).as("vec_id"), $"embedding", $"label")
    val vdir = tmp("ivfpq-compact")
    VectorOps.writeIvfPqIndex(emb, vdir)
    VectorOps.appendIvfPqIndex(arrivals, vdir)
    def codes(d: String) = IndexManifest.readAppendOnly(spark, d, "codes", IndexManifest.IvfPq)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sub"),
        r.getAs[Long]("code"))).toSet
    val cBefore = codes(vdir)
    VectorOps.compactIvfPqIndex(spark, vdir)
    assert(codes(vdir) === cBefore)

    // SCD2
    val sdir = tmp("scd2-compact")
    TextOps.writeScd2(Seq((1L, "a"), (2L, "a")).toDF("doc_id", "text"), 0L, sdir)
    TextOps.appendScd2Snapshot(Seq((1L, "b"), (3L, "a")).toDF("doc_id", "text"), 1L, sdir)
    TextOps.appendScd2Snapshot(Seq((1L, "b"), (3L, "b")).toDF("doc_id", "text"), 2L, sdir)
    def hist(d: String) = TextOps.readScd2(spark, d)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("version"),
        r.getAs[String]("content_hash"), r.getAs[Long]("valid_from"),
        r.getAs[Long]("valid_to"), r.getAs[Boolean]("is_current"))).toSet
    val hBefore = hist(sdir)
    TextOps.compactScd2(spark, sdir)
    assert(hist(sdir) === hBefore)
    // still foldable after compaction
    TextOps.appendScd2Snapshot(Seq((1L, "b")).toDF("doc_id", "text"), 3L, sdir)
    assert(hist(sdir).exists(t => t._1 == 1L && t._5 == 3L && t._6))
    assert(hist(sdir).exists(t => t._1 == 3L && !t._6), "doc 3 closed after day 3 absence")
  }

  test("vacuum removes only sub-floor epochs; reads unchanged; in-flight stages survive") {
    val docs = Seq((1L, "spark join"), (2L, "window alpha")).toDF("doc_id", "text")
    val dir = tmp("post-vacuum")
    SearchOps.writePostingsIndex(docs, dir)
    SearchOps.appendPostingsIndex(Seq((10L, "spark beta")).toDF("doc_id", "text"), dir)
    // nothing below the floor yet: vacuum is a no-op
    assert(IndexManifest.vacuum(dir) === 0L)
    SearchOps.compactPostingsIndex(spark, dir) // floor -> 2
    // an in-flight (uncommitted) stage ABOVE the ceiling must survive
    SearchOps.stagePostingsAppend(Seq((11L, "join gamma")).toDF("doc_id", "text"), dir, 9L)
    def top() = SearchOps.bm25SearchFromIndex(spark, dir, Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = top()
    val removed = IndexManifest.vacuum(dir)
    // postings epochs 0,1 + terms 0,1 + corpus 0,1 + dels 0 = 7 stale dirs
    assert(removed === 7L, s"expected 7 stale epoch dirs removed, got $removed")
    assert(top() === before, "vacuum changed reads")
    val leftPost = LedgerIO.listStatus(LedgerIO.child(dir, "postings"))
      .map(_.getPath.getName).filter(_.startsWith("epoch=")).toSet
    assert(leftPost === Set("epoch=2", "epoch=9"),
      "compacted window and the in-flight stage must both survive")
    // the survived stage still commits cleanly afterwards
    SearchOps.appendPostingsIndex(Seq((11L, "join gamma")).toDF("doc_id", "text"), dir)
    assert(top().nonEmpty)
  }

  test("killed IVF-PQ and transition-graph appends: invisible; retry clean") {
    // IVF-PQ: stage codes for new vectors without committing
    graft.functions.GraftFunctions.registerDotD(spark)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val arrivals = emb.filter($"vec_id" % 11 === 0).limit(10)
      .select(($"vec_id" + maxId + 1).as("vec_id"), $"embedding", $"label")
    val vdir = tmp("ivfpq-kill")
    VectorOps.writeIvfPqIndex(emb, vdir)
    def nCodes(d: String) = IndexManifest.readAppendOnly(spark, d, "codes", IndexManifest.IvfPq).count()
    val n0 = nCodes(vdir)
    VectorOps.stageIvfPqAppend(arrivals, vdir, 1L)
    assert(nCodes(vdir) === n0, "uncommitted codes visible")
    VectorOps.appendIvfPqIndex(arrivals, vdir)
    val vreb = tmp("ivfpq-reb")
    VectorOps.writeIvfPqIndex(emb.unionByName(arrivals), vreb)
    assert(nCodes(vdir) === nCodes(vreb), "retry double-counted codes")

    // transition graph: stage a delta merge without committing
    val evs = Seq(
      (1L, 100L, 1L, 5L), (1L, 101L, 2L, 6L), (2L, 100L, 3L, 5L), (2L, 102L, 4L, 7L))
      .toDF("user_id", "ts_sec", "event_id", "item")
    val late = Seq((1L, 103L, 5L, 7L)).toDF("user_id", "ts_sec", "event_id", "item")
    val carry = Seq((1L, 101L, 2L, 6L), (2L, 102L, 4L, 7L))
      .toDF("user_id", "ts_sec", "event_id", "item")
    val gdir = tmp("graph-kill")
    GraphOps.writeTransitionGraph(evs, gdir)
    def w(d: String) = IndexManifest.readRewrite(spark, d, "edges")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w0 = w(gdir)
    GraphOps.stageTransitionAppend(carry.unionByName(late), gdir, 1L)
    assert(w(gdir) === w0, "uncommitted edge merge visible")
    GraphOps.appendTransitionGraph(carry.unionByName(late), gdir)
    val greb = tmp("graph-reb")
    GraphOps.writeTransitionGraph(evs.unionByName(late), greb)
    assert(w(gdir).filter(_._2 > 0) === w(greb).filter(_._2 > 0),
      "retry after kill must equal the full-log rebuild")
  }

  test("time travel: as-of reads pin past epochs; the compaction floor bounds travel") {
    val docs = Seq(
      (1L, "spark join window spark"), (2L, "join window filter"),
      (3L, "spark filter")).toDF("doc_id", "text")
    val day2 = Seq((10L, "spark spark join"), (11L, "window")).toDF("doc_id", "text")
    val q = Seq("spark", "join", "window")
    def top(d: String, asOf: Option[Long] = None) =
      SearchOps.bm25SearchFromIndex(spark, d, q, 10, asOf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val dir = tmp("post-asof")
    SearchOps.writePostingsIndex(docs, dir)                         // epoch 0
    SearchOps.appendPostingsIndex(day2, dir)                        // epoch 1
    SearchOps.deleteFromPostingsIndex(
      Seq(2L).toDF("doc_id"), dir)                                  // epoch 2

    // every window epoch is a complete snapshot: as-of reads equal
    // from-scratch twins of the corpus at that commit
    val twin0 = tmp("post-asof-t0"); SearchOps.writePostingsIndex(docs, twin0)
    val twin1 = tmp("post-asof-t1")
    SearchOps.writePostingsIndex(docs.unionByName(day2), twin1)
    assert(top(dir, Some(0L)) === top(twin0),
      "as-of 0 must rank exactly as the pre-append index (idf included)")
    assert(top(dir, Some(1L)) === top(twin1),
      "as-of 1 must see the append but not the delete")
    assert(top(dir, Some(2L)) === top(dir), "as-of head == default read")

    // refusals: the future, and (after compaction) the vacuumable past
    intercept[IllegalArgumentException](top(dir, Some(3L)))
    SearchOps.compactPostingsIndex(spark, dir)                      // epoch 3, floor 3
    assert(top(dir) === top(dir, Some(3L)))
    intercept[IllegalArgumentException](top(dir, Some(1L)))

    // generic reader: a rewrite component read as-of a pre-forget epoch
    // still shows what that epoch committed (cooccur pairs)
    val evs = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("user_id", "item")
    val co = tmp("cooccur-asof")
    GraphOps.writeCooccurIndex(evs, co)
    GraphOps.forgetCooccurUsers(Seq(2L).toDF("user_id"), co)
    def pairs(asOf: Option[Long]) =
      IndexManifest.readRewrite(spark, co, "pairs", IndexManifest.Cooccur, asOf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs(Some(0L)) === Map((10L, 11L) -> 2L), "pre-forget snapshot intact")
    assert(pairs(None) === Map((10L, 11L) -> 1L))
  }
}
