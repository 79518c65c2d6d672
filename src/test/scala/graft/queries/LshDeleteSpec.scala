package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{IndexManifest, StoredIndex}

/** Forgetting docs from the stored LSH index: the screen must equal an
  * index rebuilt without them (tombstones + bucket-count give-back,
  * including DROPPING zero-count buckets — a lingering n_base = 0 row
  * would wrongly flag a future delta), a killed delete is invisible,
  * re-admit after forget resolves to the new band rows, and compaction
  * makes removal physical.
  */
class LshDeleteSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
  private def doc(seed: Int): String = (1 to 12).map(i => s"w${seed}_$i").mkString(" ")

  private val base = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(3)))
  // probes: copies of base docs 1 and 2, plus a fresh doc
  private val probe = Seq((20L, doc(1)), (21L, doc(2)), (22L, doc(9)))

  private def screen(dir: String) =
    TextOps.deltaNearDupFromIndex(probe.toDF("doc_id", "text"), dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("forget equals a rebuild without the docs; kill drill; zero-count buckets dropped") {
    val dir = tmp("lsh-forget")
    TextOps.writeLshIndex(base.toDF("doc_id", "text"), dir)
    assert(screen(dir) === Map(20L -> "neardup_of_base", 21L -> "neardup_of_base", 22L -> "kept"))

    // kill drill: a staged forget must not move the screen
    TextOps.stageLshDelete(Seq(1L).toDF("doc_id"), dir, 1L)
    assert(IndexManifest.committedEpoch(dir, IndexManifest.Lsh) === 0L)
    assert(screen(dir)(20L) === "neardup_of_base", "uncommitted tombstones leaked")

    // committed forget of doc 1: its copy now screens kept, the rest hold
    TextOps.deleteFromLshIndex(Seq(1L).toDF("doc_id"), dir)
    assert(screen(dir) === Map(20L -> "kept", 21L -> "neardup_of_base", 22L -> "kept"))

    // full parity with a rebuild: counts table AND band rows
    val reb = tmp("lsh-forget-reb")
    TextOps.writeLshIndex(base.filterNot(_._1 == 1L).toDF("doc_id", "text"), reb)
    def counts(d: String) = IndexManifest
      .readRewrite(spark, d, "bucket_counts", IndexManifest.Lsh)
      .collect().map(r => (r.getInt(0), r.getStruct(1).toString) -> r.getLong(2)).toMap
    assert(counts(dir) === counts(reb),
      "count give-back must equal the rebuild (zero rows dropped)")
    def bandDocs(d: String) = StoredIndex.Lsh.resolved(spark, d)
      .select($"doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandDocs(dir) === Set(2L, 3L))
  }

  test("re-admit after forget resolves to new band rows; compaction is physical") {
    val dir = tmp("lsh-readmit")
    TextOps.writeLshIndex(base.toDF("doc_id", "text"), dir)
    TextOps.deleteFromLshIndex(Seq(1L).toDF("doc_id"), dir)
    assert(screen(dir)(20L) === "kept")
    // the doc comes back (epoch above the tombstone's) — copies flag again
    TextOps.appendLshIndex(Seq((1L, doc(1))).toDF("doc_id", "text"), dir)
    assert(screen(dir)(20L) === "neardup_of_base")

    // forget again, compact: band rows physically gone, screen unchanged
    TextOps.deleteFromLshIndex(Seq(1L).toDF("doc_id"), dir)
    TextOps.compactLshIndex(spark, dir)
    val st = IndexManifest.committedState(dir, IndexManifest.Lsh)
    assert(st.baseEpoch === st.epoch)
    val raw = spark.read.option("basePath", s"$dir/bands").parquet(s"$dir/bands")
      .filter(col("epoch") === st.epoch)
    assert(raw.filter(col("doc_id") === 1L).count() === 0L,
      "compaction must drop the forgotten band rows physically")
    assert(screen(dir) === Map(20L -> "kept", 21L -> "neardup_of_base", 22L -> "kept"))
    // still appendable after the fold
    TextOps.appendLshIndex(Seq((5L, doc(9))).toDF("doc_id", "text"), dir)
    assert(screen(dir)(22L) === "neardup_of_base")
  }
}
