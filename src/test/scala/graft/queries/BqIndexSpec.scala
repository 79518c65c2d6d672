package graft.queries

import graft.SparkSpec
import graft.sources.{IndexManifest, StoredIndex}

/** The stored binary-quantization index: the banded screen must EQUAL a
  * brute-force Hamming screen (the 4-band pigeonhole claims zero false
  * negatives at radius 3; the exact filter kills false positives — so
  * exact set equality is the contract, not recall), appends must equal
  * a union rebuild, and a killed append must be invisible then
  * retry-safe — the same drill as the other index families.
  */
class BqIndexSpec extends SparkSpec {

  private val rnd = new scala.util.Random(57)
  private def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
  private def flip(v: Array[Float], dims: Seq[Int]): Array[Float] = {
    val w = v.clone()
    dims.foreach(d => w(d) = -w(d))
    w
  }
  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def screen(delta: Seq[(Long, Array[Float])], dir: String) = {
    import spark.implicits._
    VectorOps.bqNearDupFromIndex(
      spark.createDataset(delta).toDF("vec_id", "embedding"), dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("banded screen equals brute force: planted distances 0-3 flagged, 4+ only via luck") {
    import spark.implicits._
    val base = (0L until 80L).map(i => (i, vec()))
    val dir = tmp("bq-idx")
    VectorOps.writeBqIndex(spark.createDataset(base).toDF("vec_id", "embedding"), dir)
    // plants at exact sign-distance 0..5 from base vectors, plus fresh noise
    val plants = (0 to 5).map { k =>
      (1000L + k, flip(base(k.toInt * 7)._2, Seq.tabulate(k)(j => j * 11 + 1)))
    }
    val noise = (2000L until 2010L).map(i => (i, vec()))
    val delta = plants ++ noise
    val got = screen(delta, dir)
    // independent brute force over the sign patterns
    val baseSigns = base.map { case (_, v) => v.map(_ >= 0f) }
    def minHam(v: Array[Float]): Int = {
      val s = v.map(_ >= 0f)
      baseSigns.map(b => b.zip(s).count { case (x, y) => x != y }).min
    }
    delta.foreach { case (id, v) =>
      val expect = if (minHam(v) <= 3) "neardup_of_base" else "kept"
      assert(got(id) === expect, s"vec $id minHam=${minHam(v)}")
    }
    // the distance-0..3 plants are all flagged (pigeonhole completeness)
    (0 to 3).foreach(k => assert(got(1000L + k) === "neardup_of_base", s"dist $k"))
  }

  test("tombstone deletes: epoch precedence, kill drill, physical on compaction") {
    import spark.implicits._
    val base = (0L until 30L).map(i => (i, vec()))
    val dir = tmp("bq-del")
    def df(rows: Seq[(Long, Array[Float])]) =
      spark.createDataset(rows).toDF("vec_id", "embedding")
    VectorOps.writeBqIndex(df(base), dir)
    val probe = Seq((9000L, flip(base(7)._2, Seq(11))))
    assert(screen(probe, dir)(9000L) === "neardup_of_base")

    // kill drill: a staged tombstone epoch must not screen anything out
    VectorOps.stageBqDelete(Seq(7L).toDF("vec_id"), dir, 1L)
    assert(screen(probe, dir)(9000L) === "neardup_of_base",
      "uncommitted tombstones leaked into the read")

    // committed delete: the probe's source is forgotten
    VectorOps.deleteFromBqIndex(Seq(7L).toDF("vec_id"), dir)
    assert(IndexManifest.committedEpoch(dir, IndexManifest.Bq) === 1L)
    assert(screen(probe, dir)(9000L) === "kept")
    assert(!StoredIndex.Bq.resolved(spark, dir)
      .collect().exists(_.getLong(0) === 7L))

    // epoch precedence: re-appending the id AFTER the delete resurrects
    // it (the tombstone removes only earlier epochs)
    VectorOps.appendBqIndex(df(Seq(base(7))), dir)
    assert(screen(probe, dir)(9000L) === "neardup_of_base")

    // delete again, then compact: removal becomes PHYSICAL — the raw
    // words directory no longer carries the id, tombstones fold empty,
    // and the screen is unchanged by the rewrite
    VectorOps.deleteFromBqIndex(Seq(7L, 13L).toDF("vec_id"), dir)
    assert(screen(probe, dir)(9000L) === "kept")
    VectorOps.compactBqIndex(spark, dir)
    val st = IndexManifest.committedState(dir, IndexManifest.Bq)
    assert(st.baseEpoch === st.epoch)
    val raw = spark.read.parquet(s"$dir/words/epoch=${st.epoch}")
      .collect().map(_.getLong(0)).toSet
    assert(!raw.contains(7L) && !raw.contains(13L),
      "compaction must make deletes physical")
    assert(raw.size === 28)
    assert(screen(probe, dir)(9000L) === "kept")
    // and the compacted index is still appendable
    VectorOps.appendBqIndex(df(Seq(base(13))), dir)
    assert(StoredIndex.Bq.resolved(spark, dir).count() === 29L)
  }

  test("append equals union rebuild; killed append invisible, retry safe") {
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, vec()))
    val day2 = (100L until 120L).map(i => (i, vec()))
    val dir = tmp("bq-app")
    val reb = tmp("bq-reb")
    def df(rows: Seq[(Long, Array[Float])]) =
      spark.createDataset(rows).toDF("vec_id", "embedding")
    VectorOps.writeBqIndex(df(base), dir)

    // probe within distance 2 of a day-2 vector: invisible until commit
    val probe = Seq((9000L, flip(day2.head._2, Seq(3, 30))))

    // kill drill: stage without committing — the screen must not move
    VectorOps.stageBqAppend(df(day2), dir, 1L)
    assert(IndexManifest.committedEpoch(dir, IndexManifest.Bq) === 0L)
    assert(screen(probe, dir)(9000L) === "kept",
      "uncommitted stage leaked into the screen")

    // retry the full append: now the probe collides
    VectorOps.appendBqIndex(df(day2), dir)
    assert(IndexManifest.committedEpoch(dir, IndexManifest.Bq) === 1L)
    assert(screen(probe, dir)(9000L) === "neardup_of_base")

    // stored words equal a union rebuild, bit for bit
    VectorOps.writeBqIndex(df(base ++ day2), reb)
    def words(p: String) = StoredIndex.Bq.resolved(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(words(dir) === words(reb))

    // compaction folds the epochs and stays read-equal
    VectorOps.compactBqIndex(spark, dir)
    assert(IndexManifest.committedState(dir, IndexManifest.Bq).baseEpoch === 2L)
    assert(words(dir) === words(reb))
    assert(screen(probe, dir)(9000L) === "neardup_of_base")
  }

  test("filtered serve: pre-filter fills k from the eligible corpus where post-filter starves") {
    import spark.implicits._
    // adversarial corpus: the query's Hamming neighborhood is ALL
    // ineligible (tight perturbations of the query vector), the
    // eligible rows are far away — exactly the selective-predicate
    // case the pre-filter strategy exists for
    val q0 = vec()
    val near = (0L until 150L).map(i =>
      (i, flip(q0, Seq.tabulate(1 + (i % 3).toInt)(j => (i.toInt + j * 13) % 64))))
    val far = (500L until 520L).map(i => (i, vec()))
    val dir = tmp("bq-filt")
    VectorOps.writeBqIndex(
      spark.createDataset(near ++ far).toDF("vec_id", "embedding"), dir)
    val corpus = spark.createDataset(near ++ far).toDF("vec_id", "embedding")
    val queries = spark.createDataset(Seq((9000L, q0))).toDF("query_id", "embedding")
    val keep = spark.createDataset(far.map(_._1)).toDF("vec_id")

    val pre = VectorOps.searchBqIndexWhere(
        queries, dir, corpus, keep, k = 10L, screen = 25L)
      .collect().map(_.getAs[Long]("cand_id"))
    assert(pre.length === 10, "pre-filter must fill k from the eligible corpus")
    assert(pre.forall(far.map(_._1).toSet), "every served candidate is eligible")

    // the naive alternative: screen unfiltered, drop ineligible after —
    // the top-25 Hamming pool is the ineligible neighborhood, so the
    // post-filtered answer starves
    val post = VectorOps.searchBqIndex(queries, dir, corpus, k = 25L, screen = 25L)
      .filter($"cand_id".isin(far.map(_._1): _*))
      .collect()
    assert(post.length < 10,
      s"fixture must demonstrate post-filter starvation, got ${post.length}")

    // the cascade inherits the tier-1 filter through its candidate
    // joins: same adversarial corpus, full 3-tier funnel
    val sqDir = tmp("sq8-filt")
    VectorOps.writeSq8Index(corpus, sqDir)
    val casc = VectorOps.searchCascadeIndex(
        queries, dir, sqDir, corpus, k = 10L, screen = 25L, refine = 15L,
        keepIds = Some(keep))
      .collect().map(_.getAs[Long]("cand_id"))
    assert(casc.length === 10 && casc.forall(far.map(_._1).toSet),
      "filtered cascade must fill k with eligible candidates only")
  }
}
