package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Commit-marker protocol shared by the ten stored-index families
  * (postings, LSH, shingle, IVF-PQ, BQ, SQ8, co-occurrence, transition
  * graph, SCD2, event table): every index directory
  * carries a tiny `_graft_manifest.json` naming the committed EPOCH and
  * the artifact format version. Writers stage a new epoch's data first
  * and flip the manifest last; readers resolve the manifest first and
  * see only committed epochs. This closes the crash hole every appender
  * used to document ("production wraps the pair in a commit marker"):
  *
  *   - **Atomicity**: an append that dies after its data writes but
  *     before the manifest flip is INVISIBLE — readers still resolve
  *     the previous epoch; the orphan `epoch=N+1` directories are inert.
  *   - **Idempotent retry**: every staged write targets its epoch's own
  *     directory with overwrite semantics, so re-running a failed append
  *     replaces the orphan data instead of doubling it, then commits.
  *   - **Format versioning**: a reader meeting a pre-manifest directory
  *     or a stale `format_version` fails fast with a rebuild-the-index
  *     message instead of an opaque schema error downstream (the failure
  *     mode the round-13 advisor flagged for the postings dl column).
  *
  * Component layouts under `<indexPath>/<component>/`:
  *
  *   - **Rewrite components** (term df, corpus stats, bucket counts,
  *     graph edges/nodes): each epoch is a FULL copy under
  *     `component/epoch=N/`; readers read exactly the committed epoch's
  *     directory. These tables are small (vocabulary / bucket / graph
  *     grain, not corpus grain), so a per-epoch copy is cheap — and the
  *     old epoch stays live for readers mid-append (snapshot isolation
  *     for free). A merge plan can now lazily read epoch N-1 while
  *     writing epoch N: no more localCheckpoint-before-self-overwrite.
  *   - **Append-only components** (band rows, postings, PQ codes): each
  *     append lands under `component/epoch=N/` (nested partition dirs
  *     like `bucket=K` below it); readers scan the base directory and
  *     prune `epoch <= committed` via partition discovery, so the
  *     corpus-sized table is never copied and uncommitted epochs are
  *     pruned at the directory level, not row-filtered.
  *
  * The manifest flip itself is a temp-file write + atomic rename over
  * the Hadoop FileSystem API resolved from the root's OWN scheme, so
  * an index root can live on whatever store its data lives on
  * (`file://`, `hdfs://`, `s3a://`, plain local paths) — the full
  * per-store atomicity matrix, including the object-store
  * conditional-PUT adaptation, is documented on [[LedgerIO]], the
  * shared control-plane IO module every ledger in the fleet uses.
  *
  * **The one write path.** Each family is DECLARED once as a
  * [[StoredIndex]] (format, main component and its partition columns,
  * tombstone key, rewrite components), and only the declaration's
  * protocol operations move a manifest: [[StoredIndex.build]] (epoch-0
  * components plus the empty tombstone epoch, then the initial
  * [[commit]]), [[StoredIndex.nextEpoch]] (stage, then [[advance]]),
  * [[StoredIndex.compact]] / [[StoredIndex.rebase]] (stage, re-check
  * the single writer, commit with floor = epoch), and [[StoredIndex.resolved]] (tombstones under
  * epoch precedence). Family code supplies encoders, merges and
  * give-backs; this object supplies the manifest, the readers, the pin
  * ledger and the janitor.
  *
  * Epoch values are compared against old stock: a pre-manifest index
  * has no `_graft_manifest.json` and no `epoch=` level, so the fail-fast
  * triggers before any schema confusion can.
  *
  * **Writer contract: SINGLE WRITER PER INDEX.** The protocol provides
  * snapshot isolation for READERS, not coordination between writers —
  * two concurrent appenders both compute `committedEpoch + 1`, stage
  * into the same epoch directory, and clobber each other mid-write.
  * [[advance]] and [[StoredIndex.rebase]] therefore re-check the
  * committed epoch at commit time and throw
  * [[java.util.ConcurrentModificationException]]
  * when another commit landed since the stage began — an optimistic
  * guard that turns the common lost-update races into loud failures
  * (the check-then-rename window is not a lock; deployments wanting
  * true multi-writer put a lease in front, the same adaptation every
  * manifest-based table format documents).
  *
  * **Committed-replay hazard.** Idempotent retry covers appends that
  * crashed BEFORE the manifest flip (the orphan stage is overwritten).
  * Replaying an append whose flip already COMMITTED is a different
  * event: the retry computes the NEXT epoch and folds the same delta in
  * twice (postings n_docs/df double-advance, shingle counts double-add,
  * SCD2 emits a spurious version). Appenders whose meta carries a
  * natural high-water mark enforce this (SCD2 requires
  * `day > stored last_day`); the others state the hazard at their
  * append entry points — the caller's ingest ledger (what fed which
  * append) is the line of defense, exactly as for any at-least-once
  * ingest into a non-idempotent fold.
  */
object IndexManifest {

  /** Default artifact format version — the expectation used when a call
    * site doesn't name its index family. Family-specific bumps belong
    * on the [[Format]] constants below, NOT here: bumping this value
    * would force-invalidate every family's on-disk stock at once.
    */
  val FormatVersion = 2

  /** One stored-index family's identity: the `family` tag written into
    * (and checked against) the manifest, plus the artifact format
    * version the current build reads/writes FOR THAT FAMILY. Versions
    * are per family so a schema change in one artifact (the postings
    * `positions` column that motivated version 2) only invalidates that
    * family's indexes — the others keep resolving their unchanged
    * layouts.
    */
  final case class Format(family: String, version: Int)

  /** Wildcard format: matches any family tag at the default version.
    * Used by generic tooling (and pre-family call sites); real index
    * code should pass its family constant so cross-family path mixups
    * fail fast instead of mis-reading a foreign layout.
    */
  val AnyFamily = Format("", FormatVersion)

  val Lsh        = Format("lsh", 2)
  val Shingle    = Format("shingle", 2)
  val Postings   = Format("postings", 2)
  val IvfPq      = Format("ivfpq", 3) // v3: centroid generations (gen=<floor>)
  val Transition = Format("transition", 2)
  val Cooccur    = Format("cooccur", 3) // v3: user tombstones (dels/)
  val Scd2       = Format("scd2", 2)
  val Bq         = Format("bq", 2)
  val Sq8        = Format("sq8", 2) // v2: codes byte-packed to binary (64 B/vector; v1 was array<bigint>)
  val Layout     = Format("layout", 2) // zone-mapped event table (LayoutOps); v2: user tombstones (dels/)

  /** `baseEpoch`: the FLOOR of the committed window — append-only
    * readers scan epochs in [baseEpoch, epoch]. 0 until a compaction
    * rebases the index (the compactor folds every live epoch into one
    * fresh directory and raises the floor past the stale ones, which
    * become invisible garbage a janitor can delete at leisure).
    * `family` is empty for manifests written before the family tag
    * existed (readers then check version only).
    */
  final case class State(
      formatVersion: Int, epoch: Long, baseEpoch: Long = 0L, family: String = "")

  private def manifestFile(path: String) =
    LedgerIO.child(path, "_graft_manifest.json")

  /** Parse the manifest if present. Hand-rolled parse of the three-field
    * object this module itself writes — no JSON library surface.
    * `base_epoch` defaults to 0 when absent (pre-compaction manifests).
    */
  def read(path: String): Option[State] =
    LedgerIO.readIfExists(manifestFile(path)).flatMap { s =>
      // toLongOption, not toLong: a foreign-corrupted manifest carrying
      // an out-of-Long-range number must read as "no manifest" (and
      // surface through fsck's no_manifest finding), never crash a
      // whole-fleet fsck with NumberFormatException — the same
      // overflow hardening parsePin and versionedDirValue already have
      def field(k: String): Option[Long] =
        s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(s)
          .flatMap(_.group(1).toLongOption)
      val fam = """"family"\s*:\s*"([^"]*)"""".r
        .findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      for {
        v <- field("format_version")
        if v >= Int.MinValue && v <= Int.MaxValue
        e <- field("epoch")
      } yield State(v.toInt, e, field("base_epoch").getOrElse(0L), fam)
    }

  /** The committed state, or fail fast when the index is unreadable by
    * this build (missing manifest = pre-manifest stock or a build that
    * crashed before its first commit; version skew = older artifact
    * schema for THAT family; family skew = the path points at a
    * different index kind). All mean: rebuild, or fix the path.
    */
  def committedState(path: String, fmt: Format = AnyFamily): State = read(path) match {
    case Some(st) if st.formatVersion == fmt.version &&
        (fmt.family.isEmpty || st.family.isEmpty || st.family == fmt.family) => st
    case Some(st) if fmt.family.nonEmpty && st.family.nonEmpty &&
        st.family != fmt.family =>
      throw new IllegalStateException(
        s"index at $path is family '${st.family}', this reader expects " +
          s"'${fmt.family}' - wrong index path")
    case Some(st) =>
      throw new IllegalStateException(
        s"index at $path has format_version ${st.formatVersion}, this build reads " +
          s"${fmt.version} for ${if (fmt.family.isEmpty) "it" else s"family '${fmt.family}'"} " +
          "- rebuild the index (write*Index) before searching it")
    case None =>
      throw new IllegalStateException(
        s"no commit manifest at $path - either the index predates the manifest " +
          "format or its build crashed before commit; rebuild the index (write*Index)")
  }

  /** The committed epoch (see [[committedState]] for the failure modes). */
  def committedEpoch(path: String, fmt: Format = AnyFamily): Long =
    committedState(path, fmt).epoch

  /** The committed state pinned to a PAST epoch — index TIME TRAVEL.
    * Sound because of the writers' staging discipline: every committed
    * epoch stages a FULL copy of each rewrite component and appends its
    * append-only slices under its own `epoch=e` directory, so any epoch
    * in the committed window is a complete, consistent snapshot — a
    * reader pinned to it sees exactly what a reader at that commit saw
    * (reproducibility for a training run against the index state it
    * actually used). Bounds: epochs above the head don't exist yet;
    * epochs below the window floor were superseded by a compaction and
    * may be vacuumed at any time, so travel refuses them rather than
    * racing the janitor.
    */
  def stateAsOf(path: String, asOf: Long, fmt: Format = AnyFamily): State = {
    val st = committedState(path, fmt)
    if (asOf >= st.baseEpoch && asOf <= st.epoch) st.copy(epoch = asOf)
    else {
      // Below the committed floor: readable IFF a registered pin still
      // protects it. The pin recorded the window floor AT REGISTRATION,
      // which is exactly the floor a reader at that epoch resolved
      // against — so the pinned read window is [pin.floor, asOf], and
      // vacuum's pin-aware worklist guarantees those directories exist.
      val covering =
        if (asOf > st.epoch) None
        else pins(path).find(p => p.floor <= asOf && asOf <= p.epoch)
      require(covering.nonEmpty,
        s"as-of epoch $asOf outside the committed window [${st.baseEpoch}, ${st.epoch}] " +
          "of the index at " + path +
          " - future epochs don't exist; epochs below the floor were compacted away " +
          "(registerPin BEFORE the compaction keeps an epoch replayable)")
      State(st.formatVersion, asOf, covering.get.floor, st.family)
    }
  }

  /** The window state a reader resolves against: the committed head, or
    * a [[stateAsOf]]-pinned past epoch.
    */
  private def windowState(path: String, fmt: Format, asOf: Option[Long]): State =
    asOf.map(stateAsOf(path, _, fmt)).getOrElse(committedState(path, fmt))

  /** Flip the manifest to `epoch` (window floor `baseEpoch`) — the
    * commit point. Write-then-rename so a crash mid-commit leaves
    * either the old manifest or the new one, never a torn file.
    * Unconditional — the initial-build and snapshot-clone entry point;
    * incremental writers go through [[advance]] or
    * [[StoredIndex.rebase]], which guard against a concurrent commit
    * first.
    */
  def commit(path: String, epoch: Long, baseEpoch: Long = 0L,
      fmt: Format = AnyFamily): Unit = {
    val famField = if (fmt.family.isEmpty) "" else s""" "family": "${fmt.family}","""
    val body =
      s"""{$famField "format_version": ${fmt.version}, "epoch": $epoch, "base_epoch": $baseEpoch}\n"""
    LedgerIO.writeAtomic(manifestFile(path), s"._graft_manifest.$epoch.tmp", body)
  }

  /** Staging directory for one component at one epoch. */
  def epochDir(path: String, component: String, epoch: Long): String =
    s"$path/$component/epoch=$epoch"

  /** Read a REWRITE component: exactly the committed epoch's full copy
    * — or, with `asOf`, the pinned past epoch's ([[stateAsOf]]).
    */
  def readRewrite(s: SparkSession, path: String, component: String,
      fmt: Format = AnyFamily, asOf: Option[Long] = None): DataFrame =
    s.read.parquet(epochDir(path, component, windowState(path, fmt, asOf).epoch))

  /** Advance the committed ceiling to `epoch`, PRESERVING the window
    * floor — what every appender's commit must use: committing with the
    * default floor of 0 after a compaction would resurrect the
    * superseded pre-compaction epochs and double-count them (the
    * compaction spec's kill shot — it caught exactly this).
    *
    * Single-writer guard: the committed epoch is re-read HERE, at the
    * commit point, and must still be `epoch - 1` (the value the caller
    * staged against). A concurrent append or compaction that landed
    * since the stage began fails this append loudly instead of letting
    * it commit a stage built on a superseded snapshot.
    */
  def advance(path: String, epoch: Long, fmt: Format = AnyFamily): Unit = {
    val st = committedState(path, fmt)
    if (st.epoch != epoch - 1L)
      throw new java.util.ConcurrentModificationException(
        s"index at $path: staged epoch $epoch expected committed epoch ${epoch - 1L} " +
          s"but found ${st.epoch} - another writer committed since this append staged; " +
          "re-run the append against the new committed state (single-writer contract)")
    commit(path, epoch, st.baseEpoch, fmt)
  }

  // ---------------------------------------------------------------------
  // PIN LEDGER — live protection for as-of readers. Time travel's
  // contract used to be "replayable while the maintenance schedule
  // happens to preserve the epoch": a compaction moves the floor, the
  // janitor deletes the superseded directories, and every standing
  // as-of consumer (a pinned serve stream, an export mid-copy, an audit
  // replaying a recorded epoch) silently loses its snapshot. A pin is a
  // tiny root-level registration — one file per owner under
  // `_graft_pins/` — that (a) makes [[vacuum]] skip the pinned window's
  // directories, (b) keeps [[stateAsOf]] resolving the pinned epoch
  // even after the floor moves past it, and (c) surfaces in the
  // maintenance advisor as `vacuum_blocked_by_pin` instead of advising
  // destruction. Each pin records the window floor AT REGISTRATION:
  // the protected directory set is exactly [floor, epoch] — what a
  // reader resolved against when the pin was taken — never "everything
  // below some number" (which would either leak garbage or starve the
  // janitor). Registration is per-owner atomic (tmp+rename, the
  // manifest's own discipline); releasing deletes the file and the
  // next vacuum reclaims. Pins protect against the JANITOR only: they
  // do not block appends or compactions (which never delete), and an
  // unreleased pin costs disk, not correctness — the advisor keeps
  // naming it until its owner releases.
  // ---------------------------------------------------------------------

  /** `registeredAtMs`: wall-clock registration time recorded in the pin
    * file — observability only (pin SEMANTICS never consult it): the
    * advisor ages a `vacuum_blocked_by_pin` verdict with it so a leaked
    * pin is distinguishable from a live one, and [[releaseStalePins]]
    * keys off it when an operator explicitly asks. -1 for pins written
    * before the field existed.
    */
  final case class Pin(owner: String, epoch: Long, floor: Long,
      registeredAtMs: Long = -1L)

  private def pinsDir(path: String) = LedgerIO.child(path, "_graft_pins")

  /** Owner → on-disk pin filename. Hadoop Path rejects ':' inside a
    * path segment (the long-standing HADOOP-3257 limitation), so the
    * colon the owner charset allows (namespacing like `export:<hash>`)
    * is stored as '@' — a character OUTSIDE the owner charset, so the
    * decode in [[pins]] is unambiguous. Pin files written with RAW
    * colons in the filename by the pre-Hadoop-FS build are unreachable
    * through Hadoop Path entirely (listing included) — remove such
    * stock manually; it can only exist on local roots, since that
    * build was local-only.
    */
  private def pinFileName(owner: String): String =
    owner.replace(':', '@') + ".pin"

  private def ownerOfPinFile(name: String): String =
    name.stripSuffix(".pin").replace('@', ':')

  /** Register `owner`'s pin at `epoch` — any epoch that is CURRENTLY
    * READABLE: inside the committed window, or below the floor but
    * still protected by another live pin (so an export — or a second
    * consumer — can take its own pin on a snapshot an earlier pin kept
    * alive; without this, "export the epoch my pinned serve reads"
    * would refuse exactly when the pin matters). The recorded floor is
    * the resolved read window's — the current floor in-window, the
    * covering pin's below it — so the protected directory set is
    * always exactly what a reader at that epoch resolves. Re-pinning
    * the same owner overwrites its previous registration.
    */
  def registerPin(path: String, owner: String, epoch: Long,
      fmt: Format = AnyFamily): Pin = {
    require(owner.nonEmpty && owner.forall(c =>
        c.isLetterOrDigit || "-_.:".contains(c)),
      s"pin owner '$owner' must be a filename-safe token (letters, digits, -_.:)")
    val st = stateAsOf(path, epoch, fmt) // readable-now check + floor resolution
    val now = System.currentTimeMillis()
    val body =
      s"""{ "owner": "$owner", "epoch": $epoch, "floor": ${st.baseEpoch}, "registered_at": $now }\n"""
    LedgerIO.writeAtomic(
      new HPath(pinsDir(path), pinFileName(owner)),
      s".${pinFileName(owner)}.tmp", body)
    Pin(owner, epoch, st.baseEpoch, now)
  }

  /** Drop `owner`'s pin; returns whether one existed. The freed epochs
    * become the next [[vacuum]]'s worklist (nothing is deleted here).
    */
  def releasePin(path: String, owner: String): Boolean =
    LedgerIO.deleteIfExists(new HPath(pinsDir(path), pinFileName(owner)))

  /** Release every pin older than `olderThanMs` — the EXPLICIT janitor
    * for leaked pins (an owner that crashed without releasing). Never
    * invoked automatically: an unreleased pin costs disk, not
    * correctness, and silently destroying one would un-protect a
    * standing as-of consumer that is merely long-lived — the advisor
    * names blocking pins (owner + age) so the operator decides. Each
    * release prints one loud line; pins without a registration
    * timestamp (pre-field files) are never considered stale. Returns
    * the released pins.
    */
  def releaseStalePins(path: String, olderThanMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[Pin] =
    pins(path)
      .filter(p => p.registeredAtMs >= 0 && nowMs - p.registeredAtMs > olderThanMs)
      // report ONLY pins whose file was actually deleted: claiming a
      // release that missed (a path the FS cannot address, a race with
      // the owner) would tell the operator the blockage is gone while
      // vacuum stays blocked
      .filter(p => releasePin(path, p.owner))
      .map { p =>
        System.err.println(
          s"graft.IndexManifest: released STALE pin owner=${p.owner} " +
            s"age_ms=${nowMs - p.registeredAtMs} window=[${p.floor},${p.epoch}] " +
            s"at $path - its epochs become the next vacuum's worklist")
        p
      }

  /** All live pins at this root (unordered). Lock-free readers call
    * this concurrently with owners releasing: a file deleted between
    * the listing and its read is a pin that is ALREADY RELEASED, so it
    * is skipped — equivalent to "no pin", never an exception (a crash
    * here would abort the janitor mid-worklist or a pinned serve's
    * stateAsOf, the exact paths the ledger exists to keep alive).
    */
  def pins(path: String): Seq[Pin] = pinFiles(path).flatMap(_._2)

  /** ONE listing + parse pass over the pin ledger: every `.pin` file
    * whose content READS, paired with its parse result — None for a
    * body that does not parse (a truncated copy, a foreign write, a
    * number past Long range). [[pins]] keeps only the parses (its
    * lock-free readers must skip unreadable files silently and cannot
    * throw) — which makes a CORRUPTED pin indistinguishable from a
    * RELEASED one to every pin consumer, including [[vacuum]], which
    * would then reclaim the window the pin was protecting. fsck reads
    * this pairing directly and reports each None as an error: the loud
    * half the lock-free contract forbids here. A file deleted between
    * the listing and its read is a released pin, not a corrupted one —
    * it appears in neither half.
    */
  private[graft] def pinFiles(path: String): Seq[(String, Option[Pin])] =
    LedgerIO.listStatus(pinsDir(path))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".pin"))
      .flatMap(f => LedgerIO.readIfExists(f.getPath)
        .map(body => f.getPath.getName -> parsePin(f.getPath.getName, body)))

  /** The ONE parser of pin-file bodies. None on anything that does not
    * parse — never an exception (the lock-free reader contract).
    */
  private def parsePin(fileName: String, body: String): Option[Pin] = {
    def num(k: String): Option[Long] =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(body)
        .flatMap(_.group(1).toLongOption)
    for (e <- num("epoch"); fl <- num("floor"))
      yield Pin(ownerOfPinFile(fileName), e, fl,
        num("registered_at").getOrElse(-1L))
  }

  /** Delete epoch directories strictly BELOW the committed window floor
    * — the janitor half of [[StoredIndex.compact]]. Only ever touches epochs no
    * reader can resolve again (the floor is monotone: appends preserve
    * it, compactions raise it), so vacuum is safe to run any time,
    * including concurrently with readers mid-query on local/HDFS
    * semantics (open files keep serving; the standard
    * retention-window caveat for object stores — delay vacuum past the
    * longest query — is a deployment knob, not a protocol change).
    * Epochs ABOVE the ceiling are never touched: they may be another
    * writer's in-flight stage. Directories inside a registered pin's
    * [floor, epoch] window are skipped (see the pin-ledger section) —
    * release the pin to reclaim them. Returns the number of
    * directories removed. With no `fmt`, the family comes from the
    * manifest's own tag ([[StoredIndex.formatOf]]), so the janitor
    * reads every family at its own format version.
    */
  def vacuum(path: String, fmt: Format = AnyFamily): Long = {
    var removed = 0L
    staleDirs(path, fmt).foreach { epochDir =>
      // Re-read the ledger immediately before EACH delete: a pin
      // registered after the worklist was computed still protects its
      // directories. This shrinks the unprotected interval to one
      // directory's delete; the residual instant is inherent to
      // lock-free check-then-act and is covered operationally by the
      // same retention-delay knob as the object-store caveat above —
      // register pins BEFORE the snapshot matters, not while the
      // janitor is mid-pass.
      val name = epochDir.getName
      val v = name.dropWhile(_ != '=').drop(1).toLongOption
      val protectedNow = v.exists(ver =>
        pins(path).exists(p => p.floor <= ver && ver <= p.epoch))
      if (!protectedNow) {
        LedgerIO.deleteRecursive(epochDir)
        removed += 1L
      }
    }
    removed
  }

  /** The ONE parser of the `epoch=<n>` / `gen=<n>` directory-name
    * convention — staleDirs, the advisor, and fsck all read versioned
    * directories through this, so the convention cannot drift between
    * surfaces. None for anything that does not parse EXACTLY —
    * including all-digit values past Long range (a foreign
    * `epoch=99999999999999999999` is unreadable litter to report, never
    * a NumberFormatException that aborts the caller's walk).
    */
  private[graft] def versionedDirValue(name: String): Option[Long] = {
    val digits =
      if (name.startsWith("epoch=")) name.stripPrefix("epoch=")
      else if (name.startsWith("gen=")) name.stripPrefix("gen=")
      else ""
    if (digits.nonEmpty && digits.forall(_.isDigit)) digits.toLongOption
    else None
  }

  /** `fmt`, or — for the wildcard — the format the manifest's own
    * family tag declares.
    */
  private def ownFormat(path: String, fmt: Format): Format =
    if (fmt != AnyFamily) fmt
    else read(path).map(st => StoredIndex.formatOf(st.family)).getOrElse(fmt)

  /** The epoch/generation directories strictly below the committed
    * window floor — [[vacuum]]'s worklist, exposed read-only so the
    * maintenance advisor can report reclaimable garbage without
    * touching it. epoch=<e> slices below the floor are a compaction's
    * superseded inputs; gen=<g> GENERATION directories (IVF-PQ
    * centroids) obey the gen == baseEpoch invariant, so a gen below
    * the floor was superseded by the rebalance/compaction that rebased
    * the window — both are unreachable by any reader, head or as-of.
    * The floor is read at the manifest's own family format when `fmt`
    * is the wildcard.
    */
  private[graft] def staleDirs(path: String,
      fmt: Format = AnyFamily,
      respectPins: Boolean = true): Seq[HPath] = {
    // respectPins=true is what every janitor path uses; the advisor
    // passes false to SEE blocked-but-reclaimable garbage and name the
    // pin instead of advising destruction.
    val floor = committedState(path, ownFormat(path, fmt)).baseEpoch
    val live = if (respectPins) pins(path) else Seq.empty
    LedgerIO.listStatus(LedgerIO.root(path))
      .filter(_.isDirectory).flatMap { compDir =>
        LedgerIO.listStatus(compDir.getPath).map(_.getPath).filter { epochDir =>
          versionedDirValue(epochDir.getName).exists(v => v < floor &&
            !live.exists(p => p.floor <= v && v <= p.epoch))
        }
      }
  }

  /** Fleet introspection — the "SHOW INDEXES" surface an operator
    * points at their index roots: one row per index with the family
    * tag, format version, committed window, and the sorted component
    * directory list, straight from the manifests + a directory listing
    * (no data files touched). `name` labels each root (paths are
    * per-run scratch in tests, so the label is the stable identity).
    * An uncommitted root (no manifest) reports family `_uncommitted`
    * with a (-1, -1) window rather than throwing — the janitor's view
    * must include crashed builds.
    */
  def describe(s: SparkSession, named: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    named.map { case (name, path) =>
      val st = read(path).getOrElse(State(-1, -1L, -1L, "_uncommitted"))
      val comps = LedgerIO.listStatus(LedgerIO.root(path))
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(_.startsWith("_graft_")) // protocol state, not a component
        .sorted.mkString(",")
      (name, st.family, st.formatVersion.toLong, st.epoch, st.baseEpoch, comps)
    }.toDF("name", "family", "format_version", "epoch", "base_epoch", "components")
  }

  /** Read an APPEND-ONLY component: the committed epoch window
    * [baseEpoch, epoch], pruned at the directory level (epoch is a
    * discovered partition column against `basePath`; nested partition
    * columns like `bucket` survive and still prune). Epochs below the
    * floor are a compaction's superseded inputs; epochs above the
    * ceiling are uncommitted stages — both invisible.
    */
  def readAppendOnly(s: SparkSession, path: String, component: String,
      fmt: Format = AnyFamily, asOf: Option[Long] = None): DataFrame =
    readAppendOnlyEpochs(s, path, component, fmt, asOf).drop("epoch")

  /** [[readAppendOnly]] KEEPING the `epoch` partition column — for
    * readers whose merge semantics are epoch-ordered (tombstone
    * precedence: a delete removes only rows appended in EARLIER
    * epochs, so delete-then-re-append resolves correctly — the
    * sequence-number rule every deletes-supporting table format uses).
    */
  def readAppendOnlyEpochs(s: SparkSession, path: String, component: String,
      fmt: Format = AnyFamily, asOf: Option[Long] = None): DataFrame = {
    val st = windowState(path, fmt, asOf)
    val base = s"$path/$component"
    s.read.option("basePath", base).parquet(base)
      .filter(col("epoch") >= st.baseEpoch && col("epoch") <= st.epoch)
  }
}
