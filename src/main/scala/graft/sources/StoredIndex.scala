package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, max}

/** One stored-index family, DECLARED: its manifest [[IndexManifest.Format]]
  * plus the facts the commit protocol needs about its layout — and the
  * protocol operations derived from them ONCE. Families supply only
  * their encoders and the DELTA frames of their count components; the
  * epoch arithmetic, the single-writer re-check, the floor raise, the
  * empty tombstone epoch, tombstone resolution by epoch precedence,
  * every component's epoch path (`write`/`read`) and the count merges
  * (`add`/`giveBack`) live here and nowhere else.
  *
  *   - `main`: the corpus-grain component a compaction folds (and the
  *     denominator of the advisor's dels rule), re-laid-out on
  *     `mainParts` when folded. Append-only unless it is also listed in
  *     `rewrite` (the transition graph's edges).
  *   - `tombstoneKey`: the id column of the `dels/` component, or None
  *     for families whose forget is not tombstone-shaped (shingle's
  *     negated counts, transition's subtraction fold).
  *   - `rewrite`: components staged as a FULL copy per epoch — copied
  *     forward verbatim by a compaction.
  *   - `counts`: the rewrite components that are "base plus a summed
  *     delta" — each one's key columns and its long value column. An
  *     append stages [[add]] of its delta, a forget stages [[giveBack]].
  *   - `sequential`: the family's build, stage and compaction writes
  *     run in declaration order on the caller thread instead of
  *     overlapped. SCD2's latest/closed and the transition graph's
  *     edges/nodes derive from one shared input plan, which concurrent
  *     writers must never share (the ProfRace3 AQE rule,
  *     SCALING.md ("Round-22 (optimization round 2)") — see
  *     `SearchOps.writePostingsIndex`).
  *   - `broadcastDels`: the resolution join broadcasts the tombstone
  *     set (the event table: tombstones are bounded by erasure-request
  *     volume since the last compaction, the deletion-vector
  *     assumption every table format makes).
  */
final case class StoredIndex(
    format: IndexManifest.Format,
    main: String,
    mainParts: Seq[String] = Nil,
    tombstoneKey: Option[String] = None,
    rewrite: Seq[String] = Nil,
    counts: Map[String, StoredIndex.Count] = Map.empty,
    sequential: Boolean = false,
    broadcastDels: Boolean = false) {

  import StoredIndex.Task

  require(counts.keySet.subsetOf(rewrite.toSet),
    s"count components of '${format.family}' must be rewrite components")

  def family: String = format.family

  def mainIsRewrite: Boolean = rewrite.contains(main)

  /** The tombstone component, when the family has one. */
  def tombstones: Option[String] = tombstoneKey.map(_ => StoredIndex.Dels)

  /** The committed state, format-pinned to this family. */
  def state(path: String): IndexManifest.State =
    IndexManifest.committedState(path, format)

  /** The committed head epoch. */
  def head(path: String): Long = state(path).epoch

  /** Run one epoch's component writes: in declaration order on the
    * caller thread when the family is `sequential`, else overlapped.
    */
  def run(tasks: Task*): Unit =
    if (sequential) tasks.foreach(_._2()) else Overlap.run(tasks: _*)

  /** Write `df` as component `comp` of epoch `e` — overwrite-mode into
    * e's own directory, so a crashed stage's retry replaces it.
    */
  def write(df: DataFrame, path: String, comp: String, e: Long): Unit =
    df.write.mode("overwrite").parquet(IndexManifest.epochDir(path, comp, e))

  /** Read rewrite component `comp`: the committed epoch's full copy, or
    * the as-of pinned epoch's.
    */
  def read(s: SparkSession, path: String, comp: String,
      asOf: Option[Long] = None): DataFrame =
    IndexManifest.readRewrite(s, path, comp, format, asOf)

  /** Read append-only component `comp` over the committed window (or
    * the as-of pinned one), without its `epoch` column.
    */
  def readWindow(s: SparkSession, path: String, comp: String,
      asOf: Option[Long] = None): DataFrame =
    IndexManifest.readAppendOnly(s, path, comp, format, asOf)

  /** Count component `comp` plus `delta` (its keys and value column):
    * a key absent on either side counts 0, nothing is dropped.
    */
  def add(s: SparkSession, path: String, comp: String, delta: DataFrame): DataFrame = {
    val c = counts(comp)
    read(s, path, comp).join(c.delta(delta), c.keys, "full_outer")
      .select(c.keys.map(col) :+
        (coalesce(col(c.value), lit(0L)) + coalesce(col("delta"), lit(0L))).as(c.value): _*)
  }

  /** Count component `comp` minus `delta`, the mass a forget gives
    * back: a key whose count reaches 0 leaves the table (a rebuild has
    * no zero-count rows).
    */
  def giveBack(s: SparkSession, path: String, comp: String, delta: DataFrame): DataFrame = {
    val c = counts(comp)
    read(s, path, comp).join(c.delta(delta), c.keys, "left")
      .select(c.keys.map(col) :+
        (col(c.value) - coalesce(col("delta"), lit(0L))).as(c.value): _*)
      .filter(col(c.value) > 0L)
  }

  /** The schema-carrying empty tombstone write at epoch `e` — every
    * build starts with one, every compaction resets to one.
    */
  private[graft] def emptyTombstones(s: SparkSession, path: String, e: Long): Option[Task] =
    tombstoneKey.map { key =>
      StoredIndex.Dels -> { () =>
        import s.implicits._
        write(Seq.empty[Long].toDF(key), path, StoredIndex.Dels, e)
      }
    }

  /** Build epoch 0: the family's component writes plus the empty
    * tombstone epoch (overlapped unless `sequential`), then the
    * unconditional initial commit.
    */
  def build(s: SparkSession, path: String)(tasks: Task*): Unit = {
    run(tasks ++ emptyTombstones(s, path, 0L): _*)
    IndexManifest.commit(path, 0L, fmt = format)
  }

  /** One append or forget: stage the next epoch, then advance —
    * [[IndexManifest.advance]] re-checks that the committed epoch is
    * still e-1 at the flip. Crash before the flip = an invisible orphan
    * stage a retry overwrites.
    */
  def nextEpoch(path: String)(stage: Long => Unit): Unit = {
    val e = head(path) + 1L
    stage(e)
    IndexManifest.advance(path, e, format)
  }

  /** Write epoch `e`'s tombstones: the distinct ids of `ids`' key column. */
  def stageTombstones(ids: DataFrame, path: String, e: Long): Unit = {
    val key = tombstoneKey.getOrElse(
      throw new UnsupportedOperationException(s"family '$family' has no tombstones"))
    write(ids.select(col(key).cast("long")).distinct(), path, StoredIndex.Dels, e)
  }

  /** Forget ids from a family with no stats to give back: one tombstone
    * epoch, resolved under epoch precedence, physical on compaction.
    */
  def forget(ids: DataFrame, path: String): Unit =
    nextEpoch(path)(stageTombstones(ids, path, _))

  /** Stage a window-rebasing epoch over committed state `st` and commit
    * it with floor = epoch. The single-writer guard: a writer that
    * landed while the stage ran would be silently erased by the floor
    * raise, so the compaction fails loudly instead and can re-run.
    */
  def rebase(path: String, st: IndexManifest.State)(stage: Long => Unit): Unit = {
    val e = st.epoch + 1L
    stage(e)
    val now = state(path)
    if (now.epoch != st.epoch)
      throw new java.util.ConcurrentModificationException(
        s"index at $path: compaction staged epoch $e over committed ${st.epoch} " +
          s"but found ${now.epoch} at commit time - re-run (single-writer contract)")
    IndexManifest.commit(path, e, baseEpoch = e, fmt = format)
  }

  /** The main component's committed window (or an as-of pinned one)
    * minus tombstones under EPOCH PRECEDENCE: a tombstone at epoch d
    * removes only rows appended at epochs <= d, so delete-then-re-add
    * resolves to present — the sequence-number rule of every
    * deletes-supporting table format.
    */
  def resolved(s: SparkSession, path: String, asOf: Option[Long] = None): DataFrame =
    resolve(s, path, IndexManifest.readAppendOnlyEpochs(s, path, main, format, asOf), asOf)

  /** [[resolved]] over an already-read slice of the main component
    * (carrying its `epoch` column) — the event table resolves only the
    * files its zone map selected.
    */
  def resolve(s: SparkSession, path: String, rows: DataFrame,
      asOf: Option[Long]): DataFrame = tombstoneKey match {
    case None => rows.drop("epoch")
    case Some(key) =>
      val dels = IndexManifest
        .readAppendOnlyEpochs(s, path, StoredIndex.Dels, format, asOf)
        .groupBy(col(key)).agg(max(col("epoch")).as("del_epoch"))
      rows.join(if (broadcastDels) broadcast(dels) else dels, Seq(key), "left")
        .filter(col("del_epoch").isNull || col("epoch") > col("del_epoch"))
        .drop("epoch", "del_epoch")
  }

  /** Write `df` as the main component of epoch `e`, re-laid-out on the
    * declared partition columns.
    */
  def writeMain(df: DataFrame, path: String, e: Long): Unit = {
    val w =
      if (mainParts.isEmpty) df.write
      else df.repartition(mainParts.map(col): _*).write.partitionBy(mainParts: _*)
    w.mode("overwrite").parquet(IndexManifest.epochDir(path, main, e))
  }

  /** Stage (but do NOT commit) compaction epoch `e` over committed
    * state `st`: the resolved main component (or the family's own
    * `fold` of it), every rewrite component copied forward, the empty
    * tombstone epoch, and the family's `extra` tasks — all overwrite
    * writes into e's own directories, so a crashed stage is invisible
    * and re-runnable. Exposed for the kill drill.
    */
  private[graft] def stageCompaction(s: SparkSession, path: String,
      st: IndexManifest.State, e: Long,
      fold: Option[Long => Unit] = None,
      extra: (IndexManifest.State, Long) => Seq[Task] = (_, _) => Nil): Unit = {
    val mainTask: Task = main -> { () =>
      fold.fold(writeMain(resolved(s, path), path, e))(_(e))
    }
    val copies: Seq[Task] = rewrite.map(comp => comp -> { () =>
      write(read(s, path, comp), path, comp, e)
    })
    run(Seq(mainTask) ++ copies ++ emptyTombstones(s, path, e) ++ extra(st, e): _*)
  }

  /** Compact in place: fold the committed window into ONE fresh epoch
    * and raise the floor past the superseded directories (vacuum's to
    * collect). The fold writes the RESOLVED view plus an empty
    * tombstone epoch, so forgets become physical here — folding the
    * main rows and their tombstones verbatim into one shared epoch
    * would break epoch precedence for re-added ids. `fold` replaces
    * the resolved-main task (shingle's summing fold, the event table's
    * z-range files); `extra` adds family tasks at the new floor.
    */
  def compact(s: SparkSession, path: String,
      fold: Option[Long => Unit] = None,
      extra: (IndexManifest.State, Long) => Seq[Task] = (_, _) => Nil): Unit = {
    val st = state(path)
    rebase(path, st)(e => stageCompaction(s, path, st, e, fold, extra))
  }
}

object StoredIndex {

  type Task = (String, () => Unit)

  /** The tombstone component's name in every family that has one. */
  val Dels = "dels"

  /** A count component's declared shape: its key columns and its long
    * value column. A delta frame carries the same columns.
    */
  final case class Count(keys: Seq[String], value: String) {
    private[StoredIndex] def delta(df: DataFrame): DataFrame =
      df.select(keys.map(col) :+ col(value).as("delta"): _*)
  }

  val Postings = StoredIndex(IndexManifest.Postings, "postings", Seq("bucket"),
    Some("doc_id"), Seq("terms", "corpus"), Map("terms" -> Count(Seq("t"), "df")))
  val Lsh = StoredIndex(IndexManifest.Lsh, "bands",
    tombstoneKey = Some("doc_id"), rewrite = Seq("bucket_counts"),
    counts = Map("bucket_counts" -> Count(Seq("band", "bkey"), "n_base")))
  val Shingle = StoredIndex(IndexManifest.Shingle, "shingle_counts", Seq("bucket"))
  val IvfPq = StoredIndex(IndexManifest.IvfPq, "codes", Seq("cell"), Some("vec_id"))
  val Bq = StoredIndex(IndexManifest.Bq, "words", tombstoneKey = Some("vec_id"))
  val Sq8 = StoredIndex(IndexManifest.Sq8, "codes", tombstoneKey = Some("vec_id"))
  val Cooccur = StoredIndex(IndexManifest.Cooccur, "ui",
    tombstoneKey = Some("user_id"), rewrite = Seq("pairs", "degrees"),
    counts = Map("pairs" -> Count(Seq("i1", "i2"), "n_users")))
  val Transition = StoredIndex(IndexManifest.Transition, "edges",
    rewrite = Seq("edges", "nodes"), counts = Map("edges" -> Count(Seq("src", "dst"), "w")),
    sequential = true)
  val Scd2 = StoredIndex(IndexManifest.Scd2, "closed",
    tombstoneKey = Some("doc_id"), rewrite = Seq("latest", "meta"), sequential = true)
  val Layout = StoredIndex(IndexManifest.Layout, "data",
    tombstoneKey = Some("user_id"), broadcastDels = true)

  /** THE family-tag → declaration table. */
  val byFamily: Map[String, StoredIndex] =
    Seq(Postings, Lsh, Shingle, IvfPq, Bq, Sq8, Cooccur, Transition, Scd2, Layout)
      .map(d => d.family -> d).toMap

  /** The format a manifest's family tag declares; the wildcard for an
    * unknown or absent tag (generic tooling, pre-family manifests).
    */
  def formatOf(family: String): IndexManifest.Format =
    byFamily.get(family).map(_.format).getOrElse(IndexManifest.AnyFamily)
}
