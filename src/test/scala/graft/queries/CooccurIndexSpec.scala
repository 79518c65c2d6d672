package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{IndexManifest, StoredIndex}

/** Stored co-occurrence index: incremental fold == full rebuild, with
  * the hard case pinned — a user CROSSING the degree cap mid-history
  * must retract every pair they previously supported.
  */
class CooccurIndexSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def evFrame(rows: Seq[(Long, Long)]) =
    rows.toDF("user_id", "item")

  private def pairsOf(dir: String): Map[(Long, Long), Long] =
    IndexManifest.readRewrite(spark, dir, "pairs", IndexManifest.Cooccur)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("fold equals full rebuild on the fixture event log, split at the time median") {
    val evs = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("item", regexp_extract($"props", "(\\d+)", 1).cast("long"))
    val split = evs.agg(expr("percentile_approx(ts_sec, 0.5)")).head().getLong(0)
    val early = evs.filter($"ts_sec" < split)
    val late = evs.filter($"ts_sec" >= split)

    val inc = tmp("cooccur-inc")
    GraphOps.writeCooccurIndex(early, inc)
    GraphOps.appendCooccurIndex(late, inc)
    val reb = tmp("cooccur-reb")
    GraphOps.writeCooccurIndex(evs, reb)
    assert(pairsOf(inc) === pairsOf(reb),
      "incremental fold must reproduce the full-log pair supports")

    // the stored top-k equals the inline catalog ranking
    val stored = GraphOps.cooccurTopKFromIndex(spark, inc, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inline = Catalog.queries("e_item_cooccur")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stored === inline)

    // the whole downstream family runs off the stored artifact too
    val commStored = GraphOps.communitiesFromIndex(spark, inc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val commInline = Catalog.queries("e_communities")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(commStored === commInline)
    val recStored = GraphOps.recommendationsFromIndex(spark, inc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val recInline = Catalog.queries("e_recommendations")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(recStored === recInline)

    // degrees table equals a recount over the accumulated ui rows
    val deg = IndexManifest.readRewrite(spark, inc, "degrees", IndexManifest.Cooccur)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recount = IndexManifest.readAppendOnly(spark, inc, "ui", IndexManifest.Cooccur)
      .groupBy($"user_id").agg(count(lit(1)).as("deg"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg === recount)
  }

  test("cap crossing retracts previous pairs; fold still equals rebuild") {
    val cap = GraphOps.maxUserDegree
    // day 1: user 7 is a heavy-but-eligible user (cap-1 items incl. 1,2);
    // user 8 co-visits items 1,2 -> pair (1,2) supported by BOTH
    val day1 = evFrame(
      (0 until (cap - 1L).toInt).map(i => (7L, 1L + i)) ++ Seq((8L, 1L), (8L, 2L)))
    // day 2: user 7 grows past the cap -> ineligible; their supports
    // must vanish. user 8 untouched.
    val day2 = evFrame((0 until 10).map(i => (7L, 1000L + i)))

    val inc = tmp("cooccur-cross")
    GraphOps.writeCooccurIndex(day1, inc)
    val before = pairsOf(inc)
    assert(before((1L, 2L)) === 2L, "both users support (1,2) on day 1")
    assert(before.size > 1, "user 7's eligible pairs exist on day 1")

    GraphOps.appendCooccurIndex(day2, inc)
    val after = pairsOf(inc)
    assert(after === Map((1L, 2L) -> 1L),
      "crossing the cap must retract ALL of user 7's pairs; user 8's survives")

    // and the fold agrees with a from-scratch rebuild of the union log
    val reb = tmp("cooccur-cross-reb")
    GraphOps.writeCooccurIndex(day1.unionByName(day2), reb)
    assert(after === pairsOf(reb))

    // a later slice from the now-ineligible user changes nothing
    GraphOps.appendCooccurIndex(evFrame(Seq((7L, 5000L))), inc)
    assert(pairsOf(inc) === after)
  }

  test("property: random slices under a tiny cap — fold chain equals rebuild every step") {
    // 8 users x items 1..10, three random slices, cap = 3: eligibility
    // flips in BOTH directions of visibility (users cross the cap at
    // random points, some in slice 1, some never), so the retraction
    // formula is exercised at every fold, not just in the planted case.
    // Seeded: failures reproduce.
    val rnd = new scala.util.Random(424242)
    // light users (1-4) stay under the cap in expectation; heavy users
    // (5-8) cross it at random points across the slices
    val slices: Seq[Seq[(Long, Long)]] = Seq.fill(3) {
      (for {
        u <- 1L to 8L
        i <- 1L to 10L
        if rnd.nextDouble() < (if (u <= 4L) 0.08 else 0.30)
      } yield (u, i)).toSeq
    }
    val cap = 3L
    val inc = tmp("cooccur-prop")
    GraphOps.writeCooccurIndex(evFrame(slices.head), inc, cap)
    slices.tail.zipWithIndex.foreach { case (slice, i) =>
      GraphOps.appendCooccurIndex(evFrame(slice), inc, cap)
      // EVERY intermediate state must equal a from-scratch rebuild of
      // the prefix — not just the final one (an error that cancels out
      // would otherwise hide)
      val reb = tmp(s"cooccur-prop-reb$i")
      GraphOps.writeCooccurIndex(
        evFrame(slices.take(i + 2).flatten), reb, cap)
      assert(pairsOf(inc) === pairsOf(reb), s"diverged after fold ${i + 1}")
    }
    // the random data must actually cross the cap somewhere
    val finalDeg = IndexManifest.readRewrite(spark, inc, "degrees", IndexManifest.Cooccur)
      .collect().map(r => r.getLong(1))
    assert(finalDeg.exists(_ > cap), "fixture never crossed the cap — weaken nothing")
    assert(finalDeg.exists(_ <= cap), "some users must stay eligible")
  }

  test("killed fold is invisible; retry clean") {
    val day1 = evFrame(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)))
    val day2 = evFrame(Seq((3L, 10L), (3L, 11L)))
    val dir = tmp("cooccur-kill")
    GraphOps.writeCooccurIndex(day1, dir)
    val before = pairsOf(dir)
    GraphOps.stageCooccurAppend(day2, dir, 1L)
    assert(IndexManifest.committedEpoch(dir, IndexManifest.Cooccur) === 0L)
    assert(pairsOf(dir) === before, "uncommitted fold leaked")
    GraphOps.appendCooccurIndex(day2, dir)
    assert(pairsOf(dir) === Map((10L, 11L) -> 3L))
  }

  test("forget equals rebuild minus the users, through every eligibility case") {
    import spark.implicits._
    val cap = 3L
    // users 1,2 co-visit (10,11); user 3 shares 10; user 9 is an
    // over-cap bot (never paired — forgetting them must subtract nothing)
    val evs = evFrame(
      Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 12L)) ++
        (0 until 10).map(i => (9L, 100L + i)))
    val dir = tmp("cooccur-forget")
    GraphOps.writeCooccurIndex(evs, dir, cap)

    def rebuildWithout(gone: Set[Long]): Map[(Long, Long), Long] = {
      val reb = tmp("cooccur-forget-reb")
      GraphOps.writeCooccurIndex(
        evFrame(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 12L))
          .filterNot(r => gone(r._1)) ++
          (if (gone(9L)) Nil else (0 until 10).map(i => (9L, 100L + i)))), reb, cap)
      pairsOf(reb)
    }

    // over-cap bot: zero subtraction, degree row gone, ui rows hidden
    GraphOps.forgetCooccurUsers(Seq(9L).toDF("user_id"), dir, cap)
    assert(pairsOf(dir) === rebuildWithout(Set(9L)))
    val degs = IndexManifest.readRewrite(spark, dir, "degrees", IndexManifest.Cooccur)
      .collect().map(_.getLong(0)).toSet
    assert(!degs.contains(9L), "forgotten user's degree row must be erased")
    assert(StoredIndex.Cooccur.resolved(spark, dir)
      .filter($"user_id" === 9L).count() === 0L)

    // eligible supporter: their pair support is given back exactly
    GraphOps.forgetCooccurUsers(Seq(2L).toDF("user_id"), dir, cap)
    val afterTwo = pairsOf(dir)
    assert(afterTwo === rebuildWithout(Set(9L, 2L)))
    assert(afterTwo((10L, 11L)) === 1L, "only user 1 still supports (10,11)")

    // the downstream family reads the resolved view: no recs for the gone
    val recUsers = GraphOps.recommendationsFromIndex(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(!recUsers.contains(2L) && !recUsers.contains(9L))

    // forget-then-re-append resurrects (epoch precedence)
    GraphOps.appendCooccurIndex(evFrame(Seq((2L, 10L), (2L, 11L))), dir, cap)
    assert(pairsOf(dir) === rebuildWithout(Set(9L)),
      "re-admitted user must support their pairs again")

    // compaction makes the erasure physical and preserves the artifact
    val before = pairsOf(dir)
    GraphOps.compactCooccurIndex(spark, dir)
    assert(pairsOf(dir) === before)
    val rawUsers = IndexManifest.readAppendOnly(spark, dir, "ui", IndexManifest.Cooccur)
      .collect().map(_.getLong(0)).toSet
    assert(!rawUsers.contains(9L),
      "compacted ui component must not physically retain the forgotten user")
    assert(rawUsers.contains(2L), "the re-admitted user survives compaction")

    // killed forget is invisible; retry lands clean
    val dir2 = tmp("cooccur-forget-kill")
    GraphOps.writeCooccurIndex(evs, dir2, cap)
    val pre = pairsOf(dir2)
    GraphOps.stageCooccurForget(Seq(1L).toDF("user_id"), dir2, 1L, cap)
    assert(IndexManifest.committedEpoch(dir2, IndexManifest.Cooccur) === 0L)
    assert(pairsOf(dir2) === pre, "uncommitted forget leaked")
    GraphOps.forgetCooccurUsers(Seq(1L).toDF("user_id"), dir2, cap)
    assert(pairsOf(dir2) === rebuildWithout(Set(1L)))
  }
}
