package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{EpochLedger, StoredIndex}

/** One-call right-to-be-forgotten across the stored-artifact fleet.
  *
  * Ten index families persist derived state about documents and
  * users; each already has its own crash-atomic forget path (tombstone
  * or negated-count epoch + same-epoch stats give-back — see
  * IMPLEMENTATION.md's forget rows). This orchestrator is the missing
  * deployment surface: an erasure request arrives as "forget these
  * docs" / "forget these users", not as eight separate index calls.
  *
  * Scope by grain:
  *   - DOC grain  — postings (BM25), LSH (near-dup), shingle-df
  *     (novelty), SCD2 (dimension history), IVF-PQ, BQ and SQ8
  *     (vector search; `vec_id` = `doc_id` in this corpus' contract).
  *   - USER grain — co-occurrence (self-attributing: the stored `ui`
  *     rows are the user's data), the transition graph (aggregated:
  *     erasure needs the user's event slice from the source log), and
  *     the zone-mapped event TABLE itself (tombstone epoch; physical
  *     on compaction — see LayoutOps.forgetEventTableUsers for the
  *     retention semantics).
  *
  * ATOMICITY, honestly: each family's forget commits its OWN manifest
  * epoch — there is no cross-index transaction, so a crash mid-fan-out
  * leaves a prefix of the families erased. Because replaying a
  * committed forget DOUBLE-SUBTRACTS give-back stats (every family's
  * documented ledger discipline), blind retry of the whole call is
  * wrong. The resume protocol uses the manifests themselves as the
  * ledger: families are processed in the FIXED order of
  * [[DocTargets.ordered]] / [[UserTargets.ordered]], and
  * [[committedEpochs]] snapshots each target's committed epoch. Record
  * that snapshot before calling; after a crash, every target whose
  * epoch advanced by one is done, so resume with
  * [[DocTargets.remaining]] — the [[graft.sources.EpochLedger]] rule,
  * which throws rather than skip a target a foreign writer moved. The
  * spec drives exactly this crash-and-resume drill.
  *
  * [[forgetDocsDurable]]/[[forgetUsersDurable]] remove the last
  * caller-held state: request + snapshot persist as a fleet-level
  * INTENT under a root path before any index is touched, and
  * [[resumeForgetDocs]]/[[resumeForgetUsers]] replay from disk alone.
  */
object Erasure {

  /** The doc-grain stored artifacts one erasure request fans out to.
    * Every field is an index ROOT path (None = not deployed).
    */
  final case class DocTargets(
      postings: Option[String] = None,
      lsh: Option[String] = None,
      shingle: Option[String] = None,
      scd2: Option[String] = None,
      ivfPq: Option[String] = None,
      bq: Option[String] = None,
      sq8: Option[String] = None) {

    /** (family-tag, path) in the fixed processing order — the resume
      * protocol's ground truth.
      */
    def ordered: Seq[(String, String)] =
      Seq("postings" -> postings, "lsh" -> lsh, "shingle" -> shingle,
        "scd2" -> scd2, "ivfpq" -> ivfPq, "bq" -> bq, "sq8" -> sq8)
        .collect { case (tag, Some(p)) => tag -> p }

    /** The targets whose committed epoch still equals the pre-call
      * snapshot — i.e. the families a crashed erasure did NOT reach.
      * Throws when a foreign writer moved a target.
      */
    def remaining(snapshot: Map[String, Long]): DocTargets = {
      val keep = remainingTags(ordered, snapshot)
      DocTargets(
        postings = postings.filter(_ => keep("postings")),
        lsh = lsh.filter(_ => keep("lsh")),
        shingle = shingle.filter(_ => keep("shingle")),
        scd2 = scd2.filter(_ => keep("scd2")),
        ivfPq = ivfPq.filter(_ => keep("ivfpq")),
        bq = bq.filter(_ => keep("bq")),
        sq8 = sq8.filter(_ => keep("sq8")))
    }
  }

  /** The user-grain stored artifacts. `transition` erasure additionally
    * needs the users' event slice ([[forgetUsers]]' `userEvs`);
    * `table` is the zone-mapped event table itself — the SOURCE LOG
    * must not be the one place erased users survive.
    */
  final case class UserTargets(
      cooccur: Option[String] = None,
      transition: Option[String] = None,
      table: Option[String] = None) {

    def ordered: Seq[(String, String)] =
      Seq("cooccur" -> cooccur, "transition" -> transition, "table" -> table)
        .collect { case (tag, Some(p)) => tag -> p }

    def remaining(snapshot: Map[String, Long]): UserTargets = {
      val keep = remainingTags(ordered, snapshot)
      UserTargets(
        cooccur = cooccur.filter(_ => keep("cooccur")),
        transition = transition.filter(_ => keep("transition")),
        table = table.filter(_ => keep("table")))
    }
  }

  /** The tags a snapshot leaves pending: the ledger's classification of
    * every snapshotted target, plus any target the snapshot lacks.
    */
  private def remainingTags(ordered: Seq[(String, String)],
      snapshot: Map[String, Long]): Set[String] = {
    val (known, fresh) = ordered.partition { case (tag, _) => snapshot.contains(tag) }
    (EpochLedger.classify("the caller's epoch snapshot",
      EpochLedger.legs(known).map(l => l -> snapshot(l.tag))).map(_.tag) ++
      fresh.map(_._1)).toSet
  }

  /** Snapshot each target's committed epoch — the caller's pre-call
    * ledger entry for the resume protocol.
    */
  def committedEpochs(targets: Seq[(String, String)]): Map[String, Long] =
    EpochLedger.legs(targets).map(l => l.tag -> l.head()).toMap

  /** Erase documents from every deployed doc-grain artifact.
    * `docs` columns: `doc_id` always; `text` additionally when
    * `shingle` is targeted (negated-count forgetting re-shingles the
    * forgotten docs — the stored index keeps aggregated counts only).
    * Caller contract per family applies: ids currently indexed,
    * complete original text. Fixed processing order; see the class doc
    * for the crash/resume protocol.
    */
  def forgetDocs(docs: DataFrame, targets: DocTargets): Unit =
    runDocFamilies(docs, EpochLedger.legs(targets.ordered))

  /** The fan-out loop over the legs in order, with a planted-crash
    * hook for the drills: `failAfter = k` throws after k families
    * committed.
    */
  private[graft] def runDocFamilies(docs: DataFrame, legs: Seq[EpochLedger.Leg],
      failAfter: Int = Int.MaxValue): Unit = {
    // one materialization feeds up to seven fan-out reads
    val d = docs.localCheckpoint(true)
    val ids = d.select(col("doc_id"))
    val vecIds = d.select(col("doc_id").as("vec_id"))
    legs.zipWithIndex.foreach { case (EpochLedger.Leg(tag, p, _), i) =>
      if (i >= failAfter)
        throw new RuntimeException(s"planted crash before family '$tag'")
      tag match {
        case "postings" => SearchOps.deleteFromPostingsIndex(ids, p)
        case "lsh"      => TextOps.deleteFromLshIndex(ids, p)
        case "shingle"  =>
          TextOps.forgetShingleDocs(d.select(col("doc_id"), col("text")), p)
        case "scd2"     => TextOps.purgeScd2Docs(ids, p)
        case "ivfpq"    => VectorOps.deleteFromIvfPqIndex(vecIds, p)
        case "bq"       => VectorOps.deleteFromBqIndex(vecIds, p)
        case "sq8"      => VectorOps.deleteFromSq8Index(vecIds, p)
      }
    }
  }

  /** Erase users from every deployed user-grain artifact. `users` has
    * column `user_id`; `userEvs` is the forgotten users' complete event
    * slice (with `item`, `ts_sec`, `event_id`), required exactly when
    * `transition` is targeted — the transition graph stores no per-user
    * attribution to erase from.
    */
  def forgetUsers(users: DataFrame, targets: UserTargets,
      userEvs: Option[DataFrame] = None): Unit =
    runUserFamilies(users, EpochLedger.legs(targets.ordered), userEvs)

  private[graft] def runUserFamilies(users: DataFrame, legs: Seq[EpochLedger.Leg],
      userEvs: Option[DataFrame], failAfter: Int = Int.MaxValue): Unit = {
    require(!legs.exists(_.tag == "transition") || userEvs.nonEmpty,
      "transition-graph erasure needs the users' event slice (userEvs)")
    val u = users.select(col("user_id")).localCheckpoint(true)
    legs.zipWithIndex.foreach { case (EpochLedger.Leg(tag, p, _), i) =>
      if (i >= failAfter)
        throw new RuntimeException(s"planted crash before family '$tag'")
      tag match {
        case "cooccur"    => GraphOps.forgetCooccurUsers(u, p)
        case "transition" =>
          GraphOps.forgetTransitionUsers(
            userEvs.get.join(u, Seq("user_id"), "left_semi"), p)
        case "table"      => LayoutOps.forgetEventTableUsers(u, p)
      }
    }
  }

  // ---------------------------------------------------------------------
  // DURABLE erasure. The resume protocol above depends on a
  // caller-held snapshot: if the CALLER crashes before persisting it,
  // resume is ambiguous. The durable entry points persist the request
  // under a fleet root (`request/`, plus `user_events/` when the
  // transition graph is targeted) and then the [[EpochLedger]] intent,
  // so a crashed erasure resumes from DISK alone. One in-flight intent
  // per root: a new durable erasure over a pending one fails fast.
  // ---------------------------------------------------------------------

  /** [[forgetDocs]] with the intent persisted first — crash-resumable
    * from disk alone via [[resumeForgetDocs]]. `docs` needs the same
    * columns as forgetDocs (`doc_id`, plus `text` when shingle is
    * targeted); the PERSISTED copy is what both the initial run and any
    * resume process, so they see identical rows by construction.
    */
  def forgetDocsDurable(docs: DataFrame, targets: DocTargets,
      intentRoot: String): Unit =
    forgetDocsDurable(docs, targets, intentRoot, failAfter = Int.MaxValue)

  private[queries] def forgetDocsDurable(docs: DataFrame, targets: DocTargets,
      intentRoot: String, failAfter: Int): Unit = {
    require(!EpochLedger.isOpen(intentRoot),
      s"pending erasure intent at $intentRoot - resumeForgetDocs first " +
        "(one in-flight erasure per fleet root)")
    val s = docs.sparkSession
    docs.write.mode("overwrite").parquet(s"$intentRoot/request")
    val legs = EpochLedger.pending(EpochLedger.intent(intentRoot), "doc",
      EpochLedger.legs(targets.ordered))
    runDocFamilies(s.read.parquet(s"$intentRoot/request"), legs, failAfter)
    EpochLedger.complete(intentRoot)
  }

  /** Resume a crashed [[forgetDocsDurable]] from DISK alone: the
    * request, targets, and pre-call snapshot all come from the intent
    * root; families already done are skipped (never double-subtracted).
    */
  def resumeForgetDocs(s: SparkSession, intentRoot: String): Unit = {
    val legs = EpochLedger.resume(intentRoot, "doc", "erasure")
    if (legs.nonEmpty)
      runDocFamilies(s.read.parquet(s"$intentRoot/request"), legs)
    EpochLedger.complete(intentRoot)
  }

  /** [[forgetUsers]], durable. `userEvs` (required when transition is
    * targeted) is persisted alongside the request so resume needs no
    * caller-held frame.
    */
  def forgetUsersDurable(users: DataFrame, targets: UserTargets,
      userEvs: Option[DataFrame], intentRoot: String): Unit =
    forgetUsersDurable(users, targets, userEvs, intentRoot, failAfter = Int.MaxValue)

  private[queries] def forgetUsersDurable(users: DataFrame, targets: UserTargets,
      userEvs: Option[DataFrame], intentRoot: String, failAfter: Int): Unit = {
    require(!EpochLedger.isOpen(intentRoot),
      s"pending erasure intent at $intentRoot - resumeForgetUsers first " +
        "(one in-flight erasure per fleet root)")
    require(targets.transition.isEmpty || userEvs.nonEmpty,
      "transition-graph erasure needs the users' event slice (userEvs)")
    val s = users.sparkSession
    users.select(col("user_id")).write.mode("overwrite")
      .parquet(s"$intentRoot/request")
    userEvs.foreach(_.write.mode("overwrite").parquet(s"$intentRoot/user_events"))
    val legs = EpochLedger.pending(EpochLedger.intent(intentRoot), "user",
      EpochLedger.legs(targets.ordered))
    runUserFamilies(s.read.parquet(s"$intentRoot/request"), legs,
      userEvs.map(_ => s.read.parquet(s"$intentRoot/user_events")), failAfter)
    EpochLedger.complete(intentRoot)
  }

  /** Resume a crashed [[forgetUsersDurable]] from disk alone. */
  def resumeForgetUsers(s: SparkSession, intentRoot: String): Unit = {
    val legs = EpochLedger.resume(intentRoot, "user", "erasure")
    if (legs.nonEmpty) {
      val evs =
        if (legs.exists(_.tag == "transition"))
          Some(s.read.parquet(s"$intentRoot/user_events"))
        else None
      runUserFamilies(s.read.parquet(s"$intentRoot/request"), legs, evs)
    }
    EpochLedger.complete(intentRoot)
  }

  /** ERASURE CERTIFICATE — auditable proof of absence, the compliance
    * artifact a deletion request closes with: for each audited doc id
    * and each ROW-TRACEABLE deployed family, the count of live index
    * rows still referencing it (tombstone-resolved, exactly what a
    * reader would serve). A forgotten doc must certify 0 across the
    * board; auditing a few NON-forgotten controls alongside proves the
    * scan actually looks (all-zeros-by-construction certifies nothing).
    *
    * Row-traceable: postings (one row per distinct term), LSH (one row
    * per band), IVF-PQ (one row per PQ subspace), BQ (one packed row),
    * SQ8 (one codes row).
    * The shingle index is NOT certifiable this way by design — it
    * stores aggregated counts with no doc attribution; its erasure is
    * certified by the negated-count epoch ledger instead. SCD2 purge
    * audits live in Scd2PurgeSpec (history rows are doc-keyed but the
    * family's oracle discipline covers them).
    *
    * Scale shape: one tombstone-resolved scan per family, semi-joined
    * to the bounded audit-id set before the per-doc count — no
    * corpus-sized state beyond the scans readers already do.
    */
  def certificate(s: SparkSession, targets: DocTargets, ids: DataFrame): DataFrame = {
    val idsDf = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().localCheckpoint(true)
    def refCounts(tag: String, path: String): Option[DataFrame] = (tag match {
      case "postings" => Some(StoredIndex.Postings.resolved(s, path)
        .drop("epoch").select(col("doc_id")))
      case "lsh"      => Some(StoredIndex.Lsh.resolved(s, path).select(col("doc_id")))
      case "ivfpq"    => Some(StoredIndex.IvfPq.resolved(s, path)
        .select(col("vec_id").as("doc_id")))
      case "bq"       => Some(StoredIndex.Bq.resolved(s, path)
        .select(col("vec_id").as("doc_id")))
      case "sq8"      => Some(StoredIndex.Sq8.resolved(s, path)
        .select(col("vec_id").as("doc_id")))
      case _          => None // shingle: count-aggregated; scd2: see scaladoc
    }).map { rows =>
      // the audit-id panel is bounded (one request's ids) — pin the
      // broadcast on both legs, the fleet's bounded-panel convention,
      // so the per-family scan never shuffles on a 100x table
      rows.join(broadcast(idsDf), Seq("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    }
    val per = targets.ordered.flatMap { case (tag, p) =>
      refCounts(tag, p).map { counts =>
        idsDf.join(broadcast(counts), Seq("doc_id"), "left")
          .select(col("doc_id"), lit(tag).as("family"),
            coalesce(col("n"), lit(0L)).as("live_refs"))
      }
    }
    require(per.nonEmpty,
      "certificate needs at least one row-traceable family in targets")
    per.reduce(_ unionByName _)
  }

  /** USER-GRAIN erasure certificate — the grain GDPR requests actually
    * arrive at. For each audited user and each row-traceable deployed
    * user family, the count of live rows still attributing to them,
    * through exactly the resolved views readers serve from:
    *
    *   - cooccur — the stored `ui` rows ARE the user's data
    *     (tombstone-resolved, `StoredIndex.Cooccur.resolved`);
    *   - table — the zone-mapped event table's resolved rows
    *     ([[LayoutOps.readEventTable]]): the source log must certify 0
    *     too, or the fleet certificate is theater.
    *
    * The transition graph is NOT certifiable this way by design — it
    * stores aggregated edge counts with no per-user attribution (the
    * shingle index's situation at doc grain); its erasure is certified
    * by the epoch ledger of the subtraction fold. Same audit
    * discipline as [[certificate]]: include non-erased controls, whose
    * expected non-zero counts prove the scan actually looks.
    */
  def certificateUsers(s: SparkSession, targets: UserTargets, ids: DataFrame): DataFrame = {
    val idsDf = ids.select(col("user_id").cast("long").as("user_id"))
      .distinct().localCheckpoint(true)
    def refCounts(tag: String, path: String): Option[DataFrame] = (tag match {
      case "cooccur" => Some(StoredIndex.Cooccur.resolved(s, path).select(col("user_id")))
      case "table"   => Some(LayoutOps.readEventTable(s, path).select(col("user_id")))
      case _         => None // transition: count-aggregated; see scaladoc
    }).map { rows =>
      // bounded-panel broadcast pinned on both legs (see certificate)
      rows.join(broadcast(idsDf), Seq("user_id"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    }
    val per = targets.ordered.flatMap { case (tag, p) =>
      refCounts(tag, p).map { counts =>
        idsDf.join(broadcast(counts), Seq("user_id"), "left")
          .select(col("user_id"), lit(tag).as("family"),
            coalesce(col("n"), lit(0L)).as("live_refs"))
      }
    }
    require(per.nonEmpty,
      "certificateUsers needs at least one row-traceable user family in targets")
    per.reduce(_ unionByName _)
  }
}
