package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{StoredIndex, Tables}

/** Z-order (Morton) data layout — the multi-dimensional file-skipping
  * lever every 100 TB table layout eventually needs: a table range-
  * queried on TWO dimensions (user and day here) can be sorted by only
  * one of them, so a 1-D sort gives perfect pruning on its own dimension
  * and none on the other. Interleaving the dimensions' bits into one
  * z-value and bucketing files by it gives PARTIAL pruning on every
  * dimension at once — a 2-D box maps to a small set of z-buckets, and
  * the scan touches only those directories (parquet partition pruning,
  * `PartitionFilters` in the plan).
  *
  * Engineering choices:
  *   - The z-value is a pure composition of codegen'd builtins
  *     (bitwiseAND / OR / shiftleft — the classic 5-step bit-spreading
  *     sequence), NOT a UDF: encoding 100 TB of rows stays inside
  *     whole-stage codegen.
  *   - Query-side bucket derivation ENUMERATES the box's integer grid
  *     and mortonizes each cell driver-side (bounded O(area) hand-off,
  *     exact). Production engines decompose huge boxes into z-ranges
  *     with the BIGMIN algorithm instead (Tropf & Herzog 1981); at the
  *     box sizes a day/user filter produces, enumeration is simpler and
  *     equally exact, and the cap below keeps it honest.
  *   - Buckets are fixed-width (`z >> shift`). A production layout
  *     range-partitions z into equal-ROW files instead (the
  *     t_shard_pack discipline); fixed width keeps the bucket id a pure
  *     per-row projection, which is what the pruning demo needs.
  */
object LayoutOps {

  /** (shift, mask) steps spreading a 32-bit value into the even bit
    * positions of a 64-bit word.
    */
  private val spreadSteps: Seq[(Int, Long)] = Seq(
    (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
    (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
    (1, 0x5555555555555555L))

  private def spread(c: Column): Column =
    spreadSteps.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) { case (x, (s, m)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }

  /** Bit-interleave two non-negative 32-bit dimensions (x in the even
    * positions, y in the odd) — whole-stage-codegen'd builtins only.
    *
    * Domain contract: both inputs must be in [0, 2^31). Values are
    * masked to 32 bits, so an out-of-range dimension would silently
    * degrade bucketing (and a y >= 2^31 would set bit 63, flipping the
    * z sign under the arithmetic shiftright) — the WRITE entry points
    * ([[writeZorderLayout]], [[writeZoneMappedLayout]], the table
    * stager) therefore go through [[morton2Checked]], which raises on
    * the first out-of-domain row instead of mis-laying the table out.
    * The raw form stays for the oracle-twinned key row (`e_zorder_key`
    * masks identically in both engines by design).
    */
  def morton2(x: Column, y: Column): Column =
    spread(x).bitwiseOR(shiftleft(spread(y), 1))

  /** [[morton2]] with the domain contract enforced per row — a
    * codegen'd conditional (the packedTsEvent discipline), not a UDF;
    * the raise_error branch types as BIGINT via the null coercion.
    */
  def morton2Checked(x: Column, y: Column): Column =
    when(x >= 0L && x < lit(1L << 31) && y >= 0L && y < lit(1L << 31),
      morton2(x, y))
      .otherwise(raise_error(concat(
        lit("z-order dimension outside [0, 2^31): (x, y) = ("),
        x.cast("string"), lit(", "), y.cast("string"), lit(")"))))

  /** Driver-side twin of [[morton2]] for box→bucket enumeration; the
    * property spec pins engine/driver parity. Same domain contract,
    * enforced eagerly.
    */
  def morton2Long(x: Long, y: Long): Long = {
    require(x >= 0L && x < (1L << 31) && y >= 0L && y < (1L << 31),
      s"z-order dimension outside [0, 2^31): ($x, $y)")
    def sp(v0: Long): Long =
      spreadSteps.foldLeft(v0 & 0xFFFFFFFFL) { case (x, (s, m)) => (x | (x << s)) & m }
    sp(x) | (sp(y) << 1)
  }

  /** DuckDB mirror of [[spread]] — textual fold, fully parenthesized.
    * The expression text duplicates per step (32 copies of the base
    * term); callers pass short column names.
    */
  private def oSpread(e: String): String =
    spreadSteps.foldLeft(s"($e & ${0xFFFFFFFFL})") { case (x, (s, m)) =>
      s"((($x) | (($x) << $s)) & $m)"
    }

  private def oMorton(x: String, y: String): String =
    s"(${oSpread(x)} | (${oSpread(y)} << 1))"

  private val oDay = "(epoch_ms(ts)//1000)//86400"

  // the layout parameters the catalog rows bake in: day/user interleave,
  // 1024-wide z cells per bucket directory
  private val zShift = 10

  /** Write `evs` as a z-bucketed parquet layout under `path`: one
    * directory (and one file) per `z >> shift` bucket. The bucket id is
    * a pure projection, so the only exchange is the one repartition
    * that coalesces each bucket to a single writer task.
    */
  def writeZorderLayout(evs: DataFrame, path: String, shift: Int = zShift): Unit = {
    val s = evs.sparkSession
    import s.implicits._
    evs
      .withColumn("day", expr("ts_sec div 86400"))
      .withColumn("zbucket",
        shiftright(morton2Checked($"user_id", $"day"), shift))
      .repartition($"zbucket")
      .write.mode("overwrite").partitionBy("zbucket")
      .parquet(path)
  }

  /** Exact 2-D box scan over a z-bucketed layout. Small boxes (area ≤
    * 10^6 cells) enumerate the box's (user, day) grid and mortonize
    * each cell driver-side — exact bucket sets, the tightest possible
    * pruning. Bigger boxes auto-route through [[zRangesForBox]] — the
    * quadtree z-range decomposition (the BIGMIN class of algorithms):
    * O(ranges) driver work regardless of box area, with the residual
    * row filter restoring exactness where a budget-truncated range is
    * conservative. Either way the bucket predicate is on the partition
    * column, so the scan touches only matching bucket directories —
    * the multi-dimensional pruning a 1-D sort cannot give.
    */
  def zorderBoxScan(s: SparkSession, path: String,
      uLo: Long, uHi: Long, dLo: Long, dHi: Long,
      shift: Int = zShift): DataFrame = {
    import s.implicits._
    // validate each axis directly — a doubly-inverted box would make the
    // area PRODUCT positive and silently return an empty scan
    require(uLo <= uHi && dLo <= dHi,
      s"empty box: users [$uLo, $uHi] x days [$dLo, $dHi]")
    val area = (uHi - uLo + 1) * (dHi - dLo + 1)
    val residual = $"user_id".between(uLo, uHi) && $"day".between(dLo, dHi)
    if (area <= 1000000L) {
      val buckets = (for {
        u <- uLo to uHi
        d <- dLo to dHi
      } yield morton2Long(u, d) >> shift).distinct
      s.read.parquet(path)
        .filter($"zbucket".isin(buckets: _*))
        .filter(residual)
    } else {
      val pred = zRangesForBox(uLo, uHi, dLo, dHi)
        .map { case (lo, hi) => $"zbucket".between(lo >> shift, hi >> shift) }
        .reduce(_ || _)
      s.read.parquet(path).filter(pred).filter(residual)
    }
  }

  /** Cover the 2-D box with at most ~`maxRanges` CONTIGUOUS z-value
    * intervals by quadtree descent — the practical form of the
    * Tropf–Herzog BIGMIN decomposition: an aligned 2^k x 2^k square
    * whose corner coordinates are multiples of 2^k maps to ONE
    * contiguous z-interval of length 4^k, so walking the implicit
    * quadtree emits exact intervals for squares fully inside the box
    * and refines partially-overlapping ones. The budget bounds driver
    * work at O(ranges): when refining would exceed it, the remaining
    * partial squares emit their (conservative) intervals and the
    * caller's residual row filter restores exactness — pruning quality
    * degrades gracefully, correctness never does. Adjacent intervals
    * are coalesced, so the returned predicate is minimal.
    */
  private[queries] def zRangesForBox(uLo: Long, uHi: Long, dLo: Long, dHi: Long,
      maxRanges: Int = 256): Seq[(Long, Long)] = {
    require(uLo >= 0 && uHi < (1L << 31) && dLo >= 0 && dHi < (1L << 31),
      s"box outside the z-order domain [0, 2^31): [$uLo,$uHi]x[$dLo,$dHi]")
    // (x0, y0, side): an aligned square, side a power of two
    def overlaps(lo: Long, hi: Long, qLo: Long, qHi: Long) = !(hi < qLo || lo > qHi)
    def contained(lo: Long, hi: Long, qLo: Long, qHi: Long) = lo >= qLo && hi <= qHi
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var frontier = List((0L, 0L, 1L << 31))
    while (frontier.nonEmpty) {
      val (full, partial) = frontier
        .filter { case (x0, y0, s0) =>
          overlaps(x0, x0 + s0 - 1, uLo, uHi) && overlaps(y0, y0 + s0 - 1, dLo, dHi) }
        .partition { case (x0, y0, s0) =>
          contained(x0, x0 + s0 - 1, uLo, uHi) && contained(y0, y0 + s0 - 1, dLo, dHi) }
      full.foreach { case (x0, y0, s0) =>
        val base = morton2Long(x0, y0)
        out += ((base, base + s0 * s0 - 1L))
      }
      frontier =
        if (partial.isEmpty) Nil
        else if (out.size + 4 * partial.size > maxRanges || partial.head._3 == 1L) {
          // budget reached (or cell grain): emit conservative covers
          partial.foreach { case (x0, y0, s0) =>
            val base = morton2Long(x0, y0)
            out += ((base, base + s0 * s0 - 1L))
          }
          Nil
        } else partial.flatMap { case (x0, y0, s0) =>
          val h = s0 / 2
          Seq((x0, y0, h), (x0 + h, y0, h), (x0, y0 + h, h), (x0 + h, y0 + h, h))
        }
    }
    // coalesce adjacent/overlapping intervals (z-order within a level is
    // not ancestor-ordered, so sort first)
    val sorted = out.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    sorted.foreach { case (lo, hi) =>
      if (merged.nonEmpty && lo <= merged.last._2 + 1)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, hi))
      else merged += ((lo, hi))
    }
    merged.toSeq
  }

  // ---------------------------------------------------------------------
  // Balanced z-layout + ZONE MAPS — the production form of the bucketed
  // demo above, the mechanism every table format (Delta, Iceberg, Hudi)
  // actually ships: files are EQUAL-ROW z-ranges (range partition on z,
  // z-sorted within each file), and a manifest records per-file min/max
  // of the query dimensions. A scan intersects the predicate's box with
  // the per-file ranges and reads only intersecting files — skipping
  // that works for ANY predicate on the mapped columns, not just boxes
  // the bucket arithmetic can enumerate. Zone maps earn their keep
  // exactly because the data is z-SORTED: on a randomly-laid-out table
  // every file's [min, max] spans the whole domain and nothing skips.
  //
  // The zone map itself is a tiny parquet table under the layout root
  // (O(files) rows, collected driver-side at plan time — the shard
  // packer's sanctioned hand-off class). Range-partition boundaries
  // come from Spark's sampling (not bit-deterministic run to run), so
  // the MANIFEST is derived from the files actually written; query
  // results stay exact regardless via the residual filter.
  // ---------------------------------------------------------------------

  /** Write `evs` as `nFiles` equal-row z-sorted parquet files under
    * `path` and derive the per-file zone map (min/max of user_id and
    * day) from the written files.
    */
  def writeZoneMappedLayout(evs: DataFrame, path: String, nFiles: Int = 16): Unit = {
    val s = evs.sparkSession
    import s.implicits._
    evs
      .withColumn("day", expr("ts_sec div 86400"))
      .withColumn("z", morton2Checked($"user_id", $"day"))
      .repartitionByRange(nFiles, $"z")
      .sortWithinPartitions($"z")
      .write.mode("overwrite").parquet(s"$path/data")
    s.read.parquet(s"$path/data")
      .groupBy(input_file_name().as("file"))
      .agg(min($"user_id").as("u_lo"), max($"user_id").as("u_hi"),
        min($"day").as("d_lo"), max($"day").as("d_hi"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_zonemap")
  }

  /** Exact box scan through the zone map: read ONLY the files whose
    * [min, max] ranges intersect the box (O(files) driver hand-off),
    * residual-filter for exactness. An all-skipped box returns the
    * empty frame without touching a data file.
    */
  def zoneMapBoxScan(s: SparkSession, path: String,
      uLo: Long, uHi: Long, dLo: Long, dHi: Long): DataFrame = {
    import s.implicits._
    val files = s.read.parquet(s"$path/_zonemap")
      .filter(!($"u_hi" < uLo || $"u_lo" > uHi || $"d_hi" < dLo || $"d_lo" > dHi))
      .select($"file").collect().map(_.getString(0))
    val all = s.read.parquet(s"$path/data")
    if (files.isEmpty) all.filter(lit(false))
    else s.read.parquet(files: _*)
      .filter($"user_id".between(uLo, uHi) && $"day".between(dLo, dHi))
  }

  /** The z-key itself, oracle-gated: bit-for-bit engine/DuckDB parity
    * of the 5-step interleave over the whole events table.
    */
  val zorderKey = Q(
    "e_zorder_key",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("day", expr("ts_sec div 86400"))
        .select($"event_id", $"user_id", $"day",
          morton2($"user_id", $"day").as("z"))
    },
    Some(s"""
      SELECT event_id, user_id, $oDay AS day,
             ${oMorton("user_id", s"($oDay)")} AS z
      FROM events
    """.stripMargin.trim),
  )

  // the demo box: present at every SF (users 3-9 exist from sf0.001 up;
  // the day window is 10 of the corpus's 30 days)
  private val (boxULo, boxUHi, boxDLo, boxDHi) = (3L, 9L, 19730L, 19739L)

  /** End-to-end: lay the events table out z-bucketed, then answer the
    * 2-D box query through bucket pruning. The oracle is the plain
    * filter over the raw table, so any row lost to a mis-derived bucket
    * set (or leaked past the residual filter) hash-mismatches.
    */
  val zorderScan = Q(
    "e_zorder_scan",
    (s, d) => {
      import s.implicits._
      val dir = graft.sources.Scratch.dir("graft-zorder")
      writeZorderLayout(Tables.events(s, d), dir)
      zorderBoxScan(s, dir, boxULo, boxUHi, boxDLo, boxDHi)
        .select($"event_id", $"user_id", $"day")
    },
    Some(s"""
      SELECT event_id, user_id, $oDay AS day
      FROM events
      WHERE user_id BETWEEN $boxULo AND $boxUHi
        AND $oDay BETWEEN $boxDLo AND $boxDHi
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // The zone-mapped layout as an EPOCH-VERSIONED TABLE — the mini-
  // lakehouse shape: data files land in append-only epoch directories,
  // the per-file zone map is itself an append-only manifest component
  // (one row per file EVER written, epoch-tagged — per-file stats are
  // additive by construction), and the IndexManifest flip is the commit
  // point. That one move buys everything the stored indexes already
  // have, for the event table itself: crash-atomic appends (a failed
  // ingest's files exist but no reader ever lists them), exactly-once
  // retry semantics, and TIME TRAVEL — a scan pinned as-of epoch E
  // lists only files committed by E, so a training run can record the
  // table epoch it read and an audit replays the exact scan after
  // months of ingest. File skipping composes with all of it: the
  // reader intersects the predicate with the zone-map WINDOW (head or
  // pinned) and reads only intersecting files.
  // ---------------------------------------------------------------------

  private[graft] def stageTableEpoch(evs: DataFrame, path: String, e: Long, nFiles: Int): Unit = {
    import graft.sources.IndexManifest
    val s = evs.sparkSession
    import s.implicits._
    val L = StoredIndex.Layout
    L.write(evs
      .withColumn("day", expr("ts_sec div 86400"))
      .withColumn("z", morton2Checked($"user_id", $"day"))
      .repartitionByRange(nFiles, $"z")
      .sortWithinPartitions($"z"), path, "data", e)
    L.write(s.read.parquet(IndexManifest.epochDir(path, "data", e))
      .groupBy(input_file_name().as("file"))
      .agg(min($"user_id").as("u_lo"), max($"user_id").as("u_hi"),
        min($"day").as("d_lo"), max($"day").as("d_hi"),
        count(lit(1)).as("n_rows"))
      .coalesce(1), path, "zonemap", e)
  }

  /** Create the table: epoch 0 of data + zone map + empty user
    * tombstones (schema-carrying, the scd2 `closed` pattern), manifest
    * commit.
    */
  def writeEventTable(evs: DataFrame, path: String, nFiles: Int = 16): Unit =
    // data+zonemap staging and the empty tombstone epoch are
    // independent under the one commit (§2.6)
    StoredIndex.Layout.build(evs.sparkSession, path)(
      "data" -> (() => stageTableEpoch(evs, path, 0L, nFiles)))

  /** Forget users from the event table — the right-to-be-forgotten
    * path for the SOURCE LOG itself (every derived index family
    * already has one; the table the indexes are built from must not be
    * the place erased users survive). The ids land as a TOMBSTONE
    * epoch; readers resolve data minus tombstones under epoch
    * precedence (a tombstone hides only rows appended in EARLIER
    * epochs, so forget-then-re-ingest resolves to present — the
    * sequence-number rule of every deletes-supporting table format),
    * and [[compactEventTable]] makes the removal physical.
    *
    * Honest retention semantics (the Delta deletion-vector + VACUUM
    * story): until a compaction rebases the window, the forgotten rows
    * remain in the committed files and an AS-OF pin below the forget
    * epoch can still read them — compliance closure is
    * forget → compact → vacuum. Zone-map file stats are left as
    * written (conservative: a box may still select a file whose only
    * matching rows were forgotten; the residual resolve keeps results
    * exact, compaction re-tightens the stats).
    */
  def forgetEventTableUsers(users: DataFrame, path: String): Unit =
    StoredIndex.Layout.forget(users, path)

  /** Fold an ingest batch in: the batch's own z-range files + zone-map
    * rows stage under a fresh epoch, the manifest advance is the commit
    * point (crash before it = invisible files, idempotent retry).
    */
  def appendEventTable(delta: DataFrame, path: String, nFiles: Int = 4): Unit =
    StoredIndex.Layout.nextEpoch(path)(stageTableEpoch(delta, path, _, nFiles))

  /** Fold the table's committed epoch window into ONE fresh set of
    * balanced z-range files and rebase the window — the maintenance
    * pass that re-clusters accumulated small ingest epochs into the
    * layout's intended shape (each append z-sorts only its own batch,
    * so cross-epoch z-ranges overlap and skipping degrades until a
    * compaction restores disjoint ranges). Same protocol as every
    * family compactor: stage under a fresh epoch, commit with
    * floor = epoch; superseded epochs become vacuumable garbage.
    */
  def compactEventTable(s: SparkSession, path: String, nFiles: Int = 16): Unit =
    // the RESOLVED view (tombstones applied) + an empty tombstone epoch
    // — forgotten rows become physically absent here
    StoredIndex.Layout.compact(s, path, fold = Some(e =>
      stageTableEpoch(readEventTable(s, path), path, e, nFiles)))

  /** Exact box scan over the committed (or as-of pinned) table window:
    * zone-map rows of the window, intersect, read only those files,
    * residual-filter. O(window files) driver hand-off.
    */
  def eventTableBoxScan(s: SparkSession, path: String,
      uLo: Long, uHi: Long, dLo: Long, dHi: Long,
      asOf: Option[Long] = None): DataFrame = {
    import s.implicits._
    val files = StoredIndex.Layout.readWindow(s, path, "zonemap", asOf)
      .filter(!($"u_hi" < uLo || $"u_lo" > uHi || $"d_hi" < dLo || $"d_lo" > dHi))
      .select($"file").collect().map(_.getString(0))
    if (files.isEmpty)
      // schema-only fallback — constructed ONLY here: its partition
      // discovery lists every table file, which would otherwise tax
      // every pruned scan with an O(table) footer pass
      s.read.option("basePath", s"$path/data").parquet(s"$path/data")
        .drop("epoch").filter(lit(false))
    else StoredIndex.Layout.resolve(s, path,
      // basePath recovers the `epoch` partition column from the file
      // paths — tombstone precedence needs the row's epoch
      s.read.option("basePath", s"$path/data").parquet(files: _*),
      asOf)
      .filter($"user_id".between(uLo, uHi) && $"day".between(dLo, dHi))
  }

  /** Full-window read of the stored event table (head, or as-of
    * pinned): every committed epoch's z-range files through manifest
    * resolution, with the layout's derived columns dropped so the
    * result is exactly the [[Tables.events]] shape — the reader the
    * analytics catalog serves from.
    */
  def readEventTable(s: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame =
    StoredIndex.Layout.resolved(s, path, asOf).drop("day", "z")

  // ---------------------------------------------------------------------
  // THE CATALOG SERVED FROM THE STORED TABLE — the round-15 layout tier
  // as load-bearing infrastructure instead of a demo: the flagship
  // event-analytics queries re-pointed at the epoch-versioned
  // zone-mapped table, verified against the SAME oracles as their
  // raw-scan originals (the stored table must be indistinguishable to a
  // reader, or it isn't a table). The deployed table is built ONCE per
  // (JVM, corpus) — a deployment builds its table at ingest, not per
  // query; only the per-invocation lifecycle rows (e_zorder_scan /
  // e_zonemap_scan) keep paying the build, because the build IS what
  // they verify. Two epochs (the first three weeks, then the tail-week
  // append) so every read exercises a real multi-epoch manifest window.
  // ---------------------------------------------------------------------

  private val tableCache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The shared stored event table for corpus `d` — built on first use
    * (epoch 0 = days ≤ cut, epoch 1 = the rest), then read-only.
    */
  def storedEventTable(s: SparkSession, d: String): String =
    tableCache.computeIfAbsent(d, _ => {
      val dir = graft.sources.Scratch.dir("graft-event-table")
      val evs = Tables.events(s, d).withColumn("day0", expr("ts_sec div 86400"))
      writeEventTable(evs.filter(col("day0") <= tableCutDay).drop("day0"), dir)
      appendEventTable(evs.filter(col("day0") > tableCutDay).drop("day0"), dir)
      dir
    })

  /** hot_items_topn through the stored table — same plan, same oracle;
    * only the scan differs (manifest-resolved z-range files).
    */
  val hotItemsFromTable = Q(
    "hot_items_from_table",
    (s, d) => EventAnalytics.hotItemsTopNOn(readEventTable(s, storedEventTable(s, d))),
    EventAnalytics.hotItemsTopN.oracle,
    bench = true,
  )

  /** sessionize through the stored table. */
  val sessionizeFromTable = Q(
    "sessionize_from_table",
    (s, d) => EventAnalytics.sessionizeOn(readEventTable(s, storedEventTable(s, d))),
    EventAnalytics.sessionize.oracle,
  )

  /** e_funnel_relaxed through the stored table. */
  val funnelFromTable = Q(
    "e_funnel_from_table",
    (s, d) => EventAnalytics.funnelRelaxedOn(readEventTable(s, storedEventTable(s, d))),
    EventAnalytics.funnelRelaxed.oracle,
  )

  /** The DECLARATIVE surface over the governed table: hot_items_sql's
    * verbatim query text (SURVEY Q1-Q5's pure-SQL entry point) with
    * its temp view backed by [[readEventTable]] instead of the raw
    * scan — the last raw-scan-only surface, closed by one view
    * registration. Same oracle as every hot-items formulation.
    */
  val hotItemsSqlFromTable = Q(
    "hot_items_sql_from_table",
    (s, d) => EventAnalytics.hotItemsSqlOn(
      s,
      EventAnalytics.eventsWithItemOn(readEventTable(s, storedEventTable(s, d))),
      "events_tbl_v"),
    EventAnalytics.hotItemsTopN.oracle,
  )

  /** sessionize as verbatim SQL over the governed table — with
    * [[hotItemsSqlFromTable]] and [[funnelStrictSqlFromTable]], every
    * SQL-expressible flagship event query now has a declarative entry
    * point against the stored table, same oracles as the raw rows.
    */
  val sessionizeSqlFromTable = Q(
    "sessionize_sql_from_table",
    (s, d) => EventAnalytics.sessionizeSqlOn(
      s, readEventTable(s, storedEventTable(s, d)), "events_tbl_sess_v"),
    EventAnalytics.sessionize.oracle,
  )

  /** The strict funnel as verbatim SQL over the governed table (the
    * relaxed funnel's SQL form is deliberately oracle-only — see
    * [[EventAnalytics.funnelStrictSqlOn]]).
    */
  val funnelStrictSqlFromTable = Q(
    "e_funnel_strict_sql_from_table",
    (s, d) => EventAnalytics.funnelStrictSqlOn(
      s, readEventTable(s, storedEventTable(s, d)), "events_tbl_fun_v"),
    EventAnalytics.funnelStrict.oracle,
  )

  /** A 2-D box query answered through the stored table's zone maps —
    * the scan every reference event job becomes at 100 TB: the box
    * spans BOTH committed epochs (the cut day is inside the day range),
    * so the read exercises manifest-window union + per-file skipping in
    * one query; the oracle is the plain raw-table filter.
    */
  val tableScan = Q(
    "e_table_scan",
    (s, d) => {
      import s.implicits._
      eventTableBoxScan(s, storedEventTable(s, d), 0L, 24L, 19738L, 19748L)
        .select($"event_id", $"user_id", $"day")
    },
    Some(s"""
      SELECT event_id, user_id, $oDay AS day
      FROM events
      WHERE user_id BETWEEN 0 AND 24
        AND $oDay BETWEEN 19738 AND 19748
    """.stripMargin.trim),
    bench = true,
  )

  /** End-to-end zone-map scan on a different box than `e_zorder_scan`
    * (disjoint code path: range files + manifest intersection instead
    * of bucket enumeration), same oracle discipline — the plain filter
    * over the raw table.
    */
  val zonemapScan = Q(
    "e_zonemap_scan",
    (s, d) => {
      import s.implicits._
      val dir = graft.sources.Scratch.dir("graft-zonemap")
      writeZoneMappedLayout(Tables.events(s, d), dir)
      zoneMapBoxScan(s, dir, 10L, 16L, 19740L, 19749L)
        .select($"event_id", $"user_id", $"day")
    },
    Some(s"""
      SELECT event_id, user_id, $oDay AS day
      FROM events
      WHERE user_id BETWEEN 10 AND 16
        AND $oDay BETWEEN 19740 AND 19749
    """.stripMargin.trim),
  )

  // the ingest boundary for the table-time-travel row: base = the first
  // three weeks, delta = the tail week (corpus spans days 19723-19752)
  private val tableCutDay = 19743L

  /** Table time travel, hash-gated end to end: build the table from
    * the days up to the cut (epoch 0), append the rest (epoch 1), then
    * scan a box SPANNING the ingest boundary as-of epoch 0 — the
    * result must be exactly the base rows, with the delta's in-box
    * rows invisible. The oracle recomputes the pre-append split from
    * the raw table.
    */
  val tableAsOf = Q(
    "e_table_asof",
    (s, d) => {
      import s.implicits._
      // reads the SHARED deployed table (epoch 0 = pre-cut days) — the
      // as-of pin must hide epoch 1's in-box rows
      eventTableBoxScan(s, storedEventTable(s, d), 10L, 16L, 19738L, 19748L,
        asOf = Some(0L))
        .select($"event_id", $"user_id", $"day")
    },
    Some(s"""
      SELECT event_id, user_id, $oDay AS day
      FROM events
      WHERE user_id BETWEEN 10 AND 16
        AND $oDay BETWEEN 19738 AND 19748
        AND $oDay <= $tableCutDay
    """.stripMargin.trim),
  )

  /** COUNT of a 2-D box answered from METADATA where possible — the
    * count-pushdown every manifest-backed table format ships: a file
    * whose [min, max] ranges sit FULLY inside the box contributes its
    * manifest `n_rows` without being read; only boundary files
    * (partial overlap) are scanned and residual-filtered. Tombstones
    * make per-file stats conservative (they still count erased rows),
    * but only for files whose USER RANGE actually contains a
    * tombstoned user — so the reader demotes exactly those files to
    * the scanned-and-resolved leg instead of abandoning the pushdown
    * for the whole window (a long-lived table between compactions
    * always has a nonempty dels set; the all-or-nothing fallback
    * stopped paying the moment anyone was forgotten). The tombstone
    * set is bounded by erasure-request volume since the last
    * compaction (the deletion-vector assumption), so the per-file
    * intersection check is a driver-side sorted-array probe.
    * O(window files) driver hand-off either way.
    */
  def eventTableBoxCount(s: SparkSession, path: String,
      uLo: Long, uHi: Long, dLo: Long, dHi: Long,
      asOf: Option[Long] = None): Long = {
    val (metaRows, scanned, _) =
      eventTableBoxCountDetail(s, path, uLo, uHi, dLo, dHi, asOf)
    metaRows + scanned
  }

  /** Ceiling on the tombstoned-user set the per-file probe collects to
    * the driver — the deletion-vector assumption (erasure volume since
    * the last compaction is small) ENFORCED instead of assumed: 1M ids
    * is ~8 MB of driver memory, far past the point where the right
    * operational answer is "compact the table" (the maintenance
    * advisor's dels rule fires long before this).
    */
  private[queries] val delsProbeCap = 1L << 20

  /** (metadata rows, scanned rows, files answered from metadata) —
    * the split exposed so the spec can assert the pushdown keeps
    * paying when tombstones don't touch the counted files.
    */
  private[queries] def eventTableBoxCountDetail(s: SparkSession, path: String,
      uLo: Long, uHi: Long, dLo: Long, dHi: Long,
      asOf: Option[Long] = None, delsCap: Long = delsProbeCap): (Long, Long, Long) = {
    import s.implicits._
    val delsDf = StoredIndex.Layout.readWindow(s, path, StoredIndex.Dels, asOf)
      .select($"user_id").distinct()
    // count BEFORE collecting: past the cap, the driver-side probe set
    // would be unbounded, so demote EVERY overlapping file to the
    // scanned-and-resolved leg (correct either way — the metadata leg
    // is an optimization) instead of collecting without a guard
    val delUsers: Array[Long] =
      if (delsDf.count() > delsCap) null
      else delsDf.collect().map(_.getLong(0)).sorted
    def touchesDel(uL: Long, uH: Long): Boolean = delUsers == null || {
      val i = java.util.Arrays.binarySearch(delUsers, uL)
      val idx = if (i >= 0) i else -i - 1
      idx < delUsers.length && delUsers(idx) <= uH
    }
    val zm = StoredIndex.Layout.readWindow(s, path, "zonemap", asOf)
      .filter(!($"u_hi" < uLo || $"u_lo" > uHi || $"d_hi" < dLo || $"d_lo" > dHi))
      .select($"file", $"u_lo", $"u_hi", $"d_lo", $"d_hi", $"n_rows")
      .collect()
    val (full, rest) = zm.partition { r =>
      r.getLong(1) >= uLo && r.getLong(2) <= uHi &&
        r.getLong(3) >= dLo && r.getLong(4) <= dHi &&
        !touchesDel(r.getLong(1), r.getLong(2))
    }
    val metaRows = full.map(_.getLong(5)).sum
    val scanned =
      if (rest.isEmpty) 0L
      else StoredIndex.Layout.resolve(s, path,
        // basePath recovers the epoch partition column — the demoted
        // files' rows resolve under the same precedence as any read
        s.read.option("basePath", s"$path/data")
          .parquet(rest.map(_.getString(0)): _*),
        asOf)
        .filter($"user_id".between(uLo, uHi) && $"day".between(dLo, dHi))
        .count()
    (metaRows, scanned, full.length.toLong)
  }

  /** The metadata count, oracle-gated against DuckDB's full recount —
    * a file mis-filed as "fully inside", a stale n_rows, or a boundary
    * row double-count all hash-mismatch.
    */
  val tableCount = Q(
    "e_table_count",
    (s, d) => {
      import s.implicits._
      Seq(eventTableBoxCount(s, storedEventTable(s, d), 0L, 24L, 19738L, 19748L))
        .toDF("n")
    },
    Some(s"""
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      WHERE user_id BETWEEN 0 AND 24
        AND $oDay BETWEEN 19738 AND 19748
    """.stripMargin.trim),
  )

  /** Table-level right-to-be-forgotten, hash-gated end to end with the
    * SHARP semantics: build the table (two epochs), forget every user
    * ≡ 3 (mod 10), then RE-INGEST user 3's events — the tombstone must
    * hide the original rows of every forgotten user while the
    * re-ingested copies resolve to present (epoch precedence). The
    * oracle recomputes membership from the raw table, so a reader that
    * leaks a forgotten row, loses a survivor, or double-counts the
    * re-ingest hash-mismatches.
    */
  val tableForget = Q(
    "e_table_forget",
    (s, d) => {
      import s.implicits._
      val dir = graft.sources.Scratch.dir("graft-ztable-forget")
      val evs = Tables.events(s, d).withColumn("day0", expr("ts_sec div 86400"))
      writeEventTable(evs.filter($"day0" <= tableCutDay).drop("day0"), dir)
      appendEventTable(evs.filter($"day0" > tableCutDay).drop("day0"), dir)
      forgetEventTableUsers(
        Tables.events(s, d).filter($"user_id" % 10 === 3).select($"user_id"), dir)
      appendEventTable(Tables.events(s, d).filter($"user_id" === 3), dir)
      readEventTable(s, dir)
        .select($"event_id", $"user_id", expr("ts_sec div 86400").as("day"))
    },
    Some(s"""
      SELECT event_id, user_id, $oDay AS day
      FROM events
      WHERE user_id % 10 <> 3 OR user_id = 3
    """.stripMargin.trim),
  )

  val qs: Seq[Q] = Seq(zorderKey, zorderScan, zonemapScan, tableAsOf,
    hotItemsFromTable, sessionizeFromTable, funnelFromTable,
    hotItemsSqlFromTable, sessionizeSqlFromTable, funnelStrictSqlFromTable,
    tableScan, tableForget, tableCount)
}
