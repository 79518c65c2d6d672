package graft.queries

import graft.SparkSpec
import graft.sources.{IndexManifest, StoredIndex}

/** The stored SQ8 index — the cascade's middle tier as a day-2
  * artifact: stored codes must equal a fresh encode bit for bit, the
  * quantizer must survive appends (no silent re-train) and compaction,
  * appends must clamp out-of-range components, tombstones follow the
  * fleet's epoch-precedence rule, and the 3-tier stored-cascade serve
  * must equal the live cascade on the same corpus.
  */
class Sq8IndexSpec extends SparkSpec {

  private val rnd = new scala.util.Random(91)
  private def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def df(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    spark.createDataset(rows).toDF("vec_id", "embedding")
  }

  /** Stored codes as longs — unpacking format v2's byte-packed binary
    * column (one unsigned byte per component).
    */
  private def codeMap(p: String): Map[Long, Seq[Long]] =
    StoredIndex.Sq8.resolved(spark, p).collect()
      .map(r => r.getLong(0) ->
        r.getAs[Array[Byte]](1).map(b => (b & 0xFF).toLong).toSeq)
      .toMap

  test("stored codes and stats equal a fresh encode bit for bit") {
    val base = (0L until 50L).map(i => (i, vec()))
    val dir = tmp("sq8-idx")
    VectorOps.writeSq8Index(df(base), dir)
    assert(IndexManifest.committedState(dir, IndexManifest.Sq8).family === "sq8")
    val expect = VectorOps.sq8CodesOn(df(base)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codeMap(dir) === expect)
    // format v2: the stored column IS the packed binary, one byte per
    // component — 64 B/vector, not v1's 512 B array<bigint>
    val stored = StoredIndex.Sq8.resolved(spark, dir)
    assert(stored.schema("codes").dataType ===
      org.apache.spark.sql.types.BinaryType)
    assert(stored.collect().forall(_.getAs[Array[Byte]](1).length === 64))
    val st = VectorOps.storedSq8Stats(spark, dir).collect()
    assert(st.length === 1)
    val fresh = VectorOps.sq8StatsOn(df(base)).collect().head
    assert(st.head.getSeq[Double](0) === fresh.getSeq[Double](0))
    assert(st.head.getSeq[Double](1) === fresh.getSeq[Double](1))
  }

  test("append encodes under the STORED quantizer (no re-train) and clamps out-of-range components") {
    val base = (0L until 40L).map(i => (i, vec()))
    val dir = tmp("sq8-app")
    VectorOps.writeSq8Index(df(base), dir)
    val statsBefore = VectorOps.storedSq8Stats(spark, dir).collect().head

    // a wild out-of-range vector: +/-100 is far outside any trained
    // per-dim [lo, hi] of unit gaussians
    val wild = Array.tabulate(64)(i => if (i % 2 == 0) 100f else -100f)
    val tame = vec()
    VectorOps.appendSq8Index(df(Seq((500L, wild), (501L, tame))), dir)

    // the quantizer did not move
    val statsAfter = VectorOps.storedSq8Stats(spark, dir).collect().head
    assert(statsAfter.getSeq[Double](0) === statsBefore.getSeq[Double](0))
    assert(statsAfter.getSeq[Double](1) === statsBefore.getSeq[Double](1))

    val codes = codeMap(dir)
    assert(codes(500L).zipWithIndex.forall { case (c, i) =>
      c == (if (i % 2 == 0) 255L else 0L) },
      "out-of-range components must saturate at the code range ends")
    // the tame vector's codes equal an encode under the ORIGINAL stats
    val lo = statsBefore.getSeq[Double](0); val hi = statsBefore.getSeq[Double](1)
    val expectTame = (0 until 64).map { i =>
      if (hi(i) > lo(i))
        math.min(255L, math.max(0L,
          math.floor((tame(i).toDouble - lo(i)) * 255.0 / (hi(i) - lo(i))).toLong))
      else 0L
    }
    assert(codes(501L) === expectTame)
    assert(codes.size === 42)
  }

  test("tombstone deletes: epoch precedence, physical on compaction, quantizer survives") {
    val base = (0L until 30L).map(i => (i, vec()))
    val dir = tmp("sq8-del")
    VectorOps.writeSq8Index(df(base), dir)
    VectorOps.deleteFromSq8Index(df(Seq((7L, vec()))).select("vec_id"), dir)
    assert(IndexManifest.committedEpoch(dir, IndexManifest.Sq8) === 1L)
    assert(!codeMap(dir).contains(7L))

    // re-append resurrects (tombstone hides only earlier epochs)
    VectorOps.appendSq8Index(df(Seq(base(7))), dir)
    assert(codeMap(dir).contains(7L))

    // as-of pin below the re-append still sees the deletion
    assert(!StoredIndex.Sq8.resolved(spark, dir, asOf = Some(1L))
      .collect().map(_.getLong(0)).contains(7L))

    VectorOps.deleteFromSq8Index(df(Seq(base(11))).select("vec_id"), dir)
    val before = codeMap(dir)
    VectorOps.compactSq8Index(spark, dir)
    val st = IndexManifest.committedState(dir, IndexManifest.Sq8)
    assert(st.baseEpoch === st.epoch)
    // physical: the folded codes directory no longer carries the id
    val raw = spark.read.parquet(s"$dir/codes/epoch=${st.epoch}")
      .collect().map(_.getLong(0)).toSet
    assert(!raw.contains(11L) && raw.contains(7L))
    assert(codeMap(dir) === before)
    // the trained quantizer rode through the floor raise
    assert(VectorOps.storedSq8Stats(spark, dir).count() === 1L)
    // and the compacted index still accepts encodes
    VectorOps.appendSq8Index(df(Seq(base(11))), dir)
    assert(codeMap(dir).contains(11L))
  }

  test("vacuum after compaction collects superseded epochs but never the re-staged quantizer") {
    val base = (0L until 25L).map(i => (i, vec()))
    val dir = tmp("sq8-vac")
    VectorOps.writeSq8Index(df(base), dir)
    VectorOps.appendSq8Index(df((100L until 110L).map(i => (i, vec()))), dir)
    VectorOps.deleteFromSq8Index(df(Seq(base(3))).select("vec_id"), dir)
    val statsBefore = VectorOps.storedSq8Stats(spark, dir).collect().head
    val before = codeMap(dir)
    VectorOps.compactSq8Index(spark, dir)
    val removed = IndexManifest.vacuum(dir, IndexManifest.Sq8)
    // codes epochs 0-2, dels 0-2, stats epoch 0 are all below the new
    // floor; the floor's own stats/codes/dels must survive
    assert(removed >= 3L, s"vacuum removed only $removed dirs")
    assert(codeMap(dir) === before)
    val statsAfter = VectorOps.storedSq8Stats(spark, dir).collect().head
    assert(statsAfter.getSeq[Double](0) === statsBefore.getSeq[Double](0))
    assert(statsAfter.getSeq[Double](1) === statsBefore.getSeq[Double](1))
    // and the vacuumed index still encodes appends under the survivor
    VectorOps.appendSq8Index(df(Seq(base(3))), dir)
    assert(codeMap(dir).contains(3L))
  }

  test("cascade time travel: independent per-artifact pins replay the past; a half-pinned serve fails closed") {
    import spark.implicits._
    graft.functions.GraftFunctions.registerDotD(spark)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val bq = tmp("casc-asof-bq"); val sq = tmp("casc-asof-sq8")
    VectorOps.writeBqIndex(emb, bq)
    VectorOps.writeSq8Index(emb, sq)
    // day 2: a planted twin of vector 0 lands in BOTH indexes
    val v0 = emb.filter($"vec_id" === 0L).collect().head.getSeq[Float](1).toArray
    val twin = df(Seq((5000L, v0.map(x => x + 1e-4f))))
    VectorOps.appendBqIndex(twin, bq)
    VectorOps.appendSq8Index(twin, sq)

    val req = spark.createDataset(Seq((9000L, v0))).toDF("query_id", "embedding")
    def servedCands(bqAsOf: Option[Long], sq8AsOf: Option[Long]) =
      VectorOps.searchCascadeIndex(req, bq, sq, emb.unionByName(twin), k = 5L,
        bqAsOf = bqAsOf, sq8AsOf = sq8AsOf)
        .select($"cand_id").as[Long].collect().toSet

    // head: the appended twin is the query's nearest stored vector
    assert(servedCands(None, None).contains(5000L))
    // both pins below the append: day-1 state replayed, twin invisible
    val pinned = servedCands(Some(0L), Some(0L))
    assert(!pinned.contains(5000L) && pinned.nonEmpty)
    // the (0,0) replay equals a serve against fresh day-1-only builds
    val bq1 = tmp("casc-asof-bq1"); val sq1 = tmp("casc-asof-sq1")
    VectorOps.writeBqIndex(emb, bq1)
    VectorOps.writeSq8Index(emb, sq1)
    val day1 = VectorOps.searchCascadeIndex(req, bq1, sq1, emb, k = 5L)
      .collect().map(_.toSeq).toSet
    val replay = VectorOps.searchCascadeIndex(req, bq, sq,
      emb.unionByName(twin), k = 5L, bqAsOf = Some(0L), sq8AsOf = Some(0L))
      .collect().map(_.toSeq).toSet
    assert(replay === day1)
    // HALF-pinned (bq at head, sq8 at day 1): the twin is screened but
    // has no pinned codes row — the tier-2 join drops it, the
    // documented fail-closed coverage contract
    assert(!servedCands(None, Some(0L)).contains(5000L))
  }

  test("stored 3-tier cascade serve equals the live cascade (catalog parity)") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) =
      Catalog.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows("v_cascade_from_index") === rows("v_cascade_search"),
      "serving from stored BQ+SQ8 artifacts must be bit-identical to the live cascade")
  }
}
