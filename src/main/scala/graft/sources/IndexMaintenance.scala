package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance ADVISOR for the stored-index fleet — the policy layer on
  * top of [[IndexManifest.describe]] that answers the question every
  * stored-table operator asks the moment appends and forgets accrete:
  * "when do I compact?" Introspection shows the manifest state machine;
  * this ranks it against two thresholds and recommends an action:
  *
  *   - **dels rule**: tombstones past `delsPct` percent of the main
  *     component's window rows. Every read resolves tombstones against
  *     the full window, so dead rows are a per-query tax until a
  *     compaction folds the resolved view and makes deletes physical —
  *     and the zone-map count pushdown ([[graft.queries.LayoutOps]])
  *     degrades file by file as tombstones intersect more user ranges.
  *   - **window rule**: committed window length (epoch − floor) past
  *     `windowLen` epochs. Append-only readers scan every epoch
  *     directory in the window; a long window is a small-files /
  *     many-directories tax even with zero deletes.
  *
  * Costs: the verdict reads each index's manifest plus ONE row-count
  * per named component — parquet footer counts over the committed
  * window, no data pages — O(named indexes) driver-coordinated jobs,
  * the same weight class as `describe`. Counts are WINDOW rows (what a
  * compaction would fold), tombstones included: that is the read
  * amplification the dels rule prices, not the resolved cardinality.
  *
  * An uncommitted root (no manifest — a crashed build) advises
  * `rebuild`: it is unreadable by contract, so neither threshold
  * applies. Each family's main and tombstone components come from its
  * [[StoredIndex]] declaration. Families whose forget is not
  * tombstone-shaped (shingle's negated counts, transition's
  * subtraction fold) have no dels component; they report 0 and are
  * governed by the window rule alone — matching how their erasure is
  * certified (ledger, not row counts). SCD2's purge writes `dels`
  * tombstones over its closed history, so its purges count here.
  */
object IndexMaintenance {

  /** One row per named index root: (name, family, window_len,
    * total_rows, del_rows, action, reason, pin_owner, pin_age_ms) with
    * action ∈ {compact, vacuum, rebuild, ok} and reason naming the rule
    * that fired (dels | window | stale_epochs | no_manifest | empty
    * when ok). Thresholds: `delsPct` percent tombstones (integer math —
    * fires when del_rows * 100 ≥ total_rows * delsPct) and `windowLen`
    * committed epochs. The vacuum rule fires when superseded epoch
    * directories linger below the window floor (a compaction ran but
    * its janitor half didn't — reclaimable garbage, checked by the
    * same read-only listing vacuum itself walks) and neither
    * compaction rule fires; compaction outranks it because compacting
    * creates more stale epochs anyway.
    *
    * Pin observability: on a `vacuum_blocked_by_pin` verdict,
    * `pin_owner` names the blocking pin(s) (comma-joined, sorted) and
    * `pin_age_ms` is the OLDEST blocker's age since registration — so
    * a leaked pin (a crashed owner that never released) is visible and
    * attributable instead of indistinguishable from a live serve. The
    * advisor only REPORTS; reclaiming a genuinely leaked pin is the
    * operator's explicit [[IndexManifest.releaseStalePins]] call.
    * Both columns are ''/-1 on every other verdict (and -1 when the
    * blocking pin predates the registration timestamp).
    */
  def advise(s: SparkSession, named: Seq[(String, String)],
      delsPct: Long = 20L, windowLen: Long = 8L,
      nowMs: Long = System.currentTimeMillis()): DataFrame = {
    import s.implicits._
    named.map { case (name, path) =>
      IndexManifest.read(path) match {
        case None =>
          (name, "_uncommitted", -1L, 0L, 0L, "rebuild", "no_manifest", "", -1L)
        case Some(st) =>
          val fam = st.family
          val fmt = StoredIndex.formatOf(fam)
          val decl = StoredIndex.byFamily.get(fam)
          // append-only mains count the committed WINDOW (all epochs —
          // the read amplification); rewrite mains (transition's edges)
          // count the committed head only, since readers never union
          // rewrite epochs
          val total = decl.fold(0L) { d =>
            if (d.mainIsRewrite) d.read(s, path, d.main).count()
            else d.readWindow(s, path, d.main).count()
          }
          val dels = decl.flatMap(d => d.tombstones.map(d.readWindow(s, path, _).count()))
            .getOrElse(0L)
          val window = st.epoch - st.baseEpoch
          // ONE unpinned-stale listing + ONE pin-ledger read per index,
          // shared by the verdict, the blocked check, and the blocker
          // attribution (each staleDirs call re-reads the manifest and
          // re-lists every component dir — remote round-trips on an
          // HDFS/S3 root; the pin-respecting listing is exactly the
          // unpinned one filtered by the live pin windows, so it is
          // derived here instead of re-listed). Both lazy: the
          // compact verdicts never pay the listing at all.
          lazy val staleIgnoringPins =
            IndexManifest.staleDirs(path, fmt, respectPins = false)
          lazy val livePins =
            if (staleIgnoringPins.isEmpty) Seq.empty else IndexManifest.pins(path)
          def epochOf(d: org.apache.hadoop.fs.Path): Option[Long] =
            d.getName.dropWhile(_ != '=').drop(1).toLongOption
          def pinCovered(d: org.apache.hadoop.fs.Path): Boolean =
            epochOf(d).exists(v =>
              livePins.exists(p => p.floor <= v && v <= p.epoch))
          val (action, reason) =
            if (dels > 0L && dels * 100L >= total * delsPct) ("compact", "dels")
            else if (window >= windowLen) ("compact", "window")
            else if (staleIgnoringPins.exists(!pinCovered(_)))
              ("vacuum", "stale_epochs")
            else if (staleIgnoringPins.nonEmpty)
              // superseded epochs exist but every one sits inside a live
              // pin's window: naming the pin beats advising destruction
              // a pin-aware vacuum would refuse anyway
              ("ok", "vacuum_blocked_by_pin")
            else ("ok", "")
          val (pinOwner, pinAge) =
            if (reason != "vacuum_blocked_by_pin") ("", -1L)
            else {
              val blockedEpochs = staleIgnoringPins.flatMap(epochOf)
              val blockers = livePins.filter(p =>
                blockedEpochs.exists(v => p.floor <= v && v <= p.epoch))
              (blockers.map(_.owner).sorted.mkString(","),
                blockers.filter(_.registeredAtMs >= 0)
                  .map(p => nowMs - p.registeredAtMs)
                  .maxOption.getOrElse(-1L))
            }
          (name, fam, window, total, dels, action, reason, pinOwner, pinAge)
      }
    }.toDF("name", "family", "window_len", "total_rows", "del_rows",
      "action", "reason", "pin_owner", "pin_age_ms")
  }

  /** Read-only INTEGRITY check over index roots — the fsck completing
    * the operator triad: [[IndexManifest.describe]] lists committed
    * state, [[advise]] ranks it against maintenance policy, and this
    * reports what the protocol itself never has to look at because it
    * is damage or litter something OUTSIDE the protocol left behind —
    * a crashed stage, a non-pin-aware deletion tool, an old build's
    * stock, a foreign file. One row per (root, finding); a clean root
    * reports a single `ok` row so the frame always covers the fleet.
    *
    * Findings (severity: how urgently an operator must act):
    *
    *   - `no_manifest` / error — unreadable root (crashed build or not
    *     an index): rebuild or remove; no further checks apply.
    *   - `format_mismatch` / error — the manifest's `format_version`
    *     differs from this build's version for the family: every
    *     reader will fail fast until the index is rebuilt.
    *   - `unknown_family` / warn — a family tag this build has no
    *     format for (newer build's stock, or a corrupted tag).
    *   - `pin_unreadable` / error — a `.pin` file whose content reads
    *     but does not parse (truncated copy, foreign write): every pin
    *     consumer — vacuum included — silently treats it as "no pin",
    *     so the window it was protecting reads as reclaimable garbage.
    *     Repair: restore the file from the source of the copy,
    *     re-register the pin ([[IndexManifest.registerPin]] with the
    *     same owner overwrites in place), or accept the release with
    *     [[IndexManifest.releasePin]] (the owner is the filename minus
    *     `.pin`, '@' read as ':').
    *   - `pin_window_missing` / error — a live pin protects a
    *     below-floor window none of whose epoch directories exist in
    *     ANY component: the replay guarantee is ALREADY broken (a
    *     non-pin-aware janitor deleted them, or the ledger was copied
    *     without its data). DETECTION LIMIT: this fires only on total
    *     loss. Partial destruction — one component's pinned epochs
    *     deleted while another's survive — is indistinguishable from a
    *     component that legitimately wrote nothing in those epochs (a
    *     missing epoch directory reads as zero rows, by design), so
    *     the check is a tripwire, not a completeness proof; the
    *     positive guarantee comes from running maintenance through the
    *     pin-aware janitor, never from fsck. The presence probe counts
    *     `epoch=` directories only — a surviving `gen=` centroid
    *     generation is a different number space and cannot vouch for
    *     pinned epoch data.
    *   - `pin_beyond_head` / warn — a pin names an epoch above the
    *     committed head (malformed registration or a manifest rolled
    *     back underneath it).
    *   - `pin_inverted` / warn — a pin that parses but whose recorded
    *     floor exceeds its epoch.
    *   - `stale_epochs` / warn — reclaimable superseded directories
    *     below the floor (compaction ran, janitor half didn't) — the
    *     same rule [[IndexManifest.vacuum]] works from.
    *   - `stale_pinned` / info — superseded directories kept alive by
    *     live pins: intentional retention, listed for disk accounting.
    *   - `orphan_stage` / info — `epoch=`/`gen=` directories ABOVE the
    *     committed head: a crashed append/compact's stage. Inert by
    *     protocol (readers prune to the committed window; a retry
    *     overwrites) — pure disk litter.
    *   - `stray_tmp` / info — dot-prefixed `.tmp` files the write-tmp-then-rename
    *     discipline strands when a writer dies between the two steps
    *     (root level and one level down: where manifests, pins, and
    *     ledgers stage).
    *   - `malformed_dir` / info — `epoch=`-prefixed names that do not
    *     parse (`epoch=3.tmp`): skipped by every reader and exporter,
    *     listed so the litter is visible.
    *
    * Costs: directory listings only — O(components × window) entries
    * per root, no data files opened, no Spark jobs. Like every
    * control-plane read this resolves the root's own scheme through
    * [[LedgerIO]], so it runs unchanged against `file://`, `hdfs://`,
    * or object-store roots. fsck REPORTS; it never repairs — vacuum,
    * [[IndexManifest.releaseStalePins]], a re-run append, or a rebuild
    * are the operator's explicit follow-ups.
    */
  def fsck(s: SparkSession, named: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    named.flatMap { case (name, path) =>
      IndexManifest.read(path) match {
        case None =>
          Seq((name, "_uncommitted", "no_manifest", "error", ""))
        case Some(st) =>
          val findings =
            scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
          val fmt = StoredIndex.formatOf(st.family)
          // an unknown family's version is unknowable - report the tag
          // and skip the version check; a family-less manifest (generic
          // tooling) checks against the default version
          if ((fmt eq IndexManifest.AnyFamily) && st.family.nonEmpty)
            findings += (("unknown_family", "warn", st.family))
          else if (st.formatVersion != fmt.version)
            findings += (("format_mismatch", "error",
              s"stored=${st.formatVersion} expected=${fmt.version}"))
          // ONE listing per level-1 directory and ONE pin-ledger pass,
          // shared by every check below (the advise() discipline:
          // remote round-trips on an HDFS/S3 root are the cost model)
          val rootP = LedgerIO.root(path)
          val level1 = LedgerIO.listStatus(rootP)
          val dirListings = level1.filter(_.isDirectory)
            .map(d => d.getPath.getName -> LedgerIO.listStatus(d.getPath))
          def capped(xs: Seq[String]): String =
            if (xs.size <= 8) xs.mkString(";")
            else xs.take(8).mkString(";") + s";+${xs.size - 8}"
          val subDirs = dirListings.collect {
            case (nm, ls) if !nm.startsWith("_graft_") => ls
          }.flatMap(_.filter(_.isDirectory))
          val epochVals = subDirs.flatMap(d =>
            IndexManifest.versionedDirValue(d.getPath.getName))
          // epoch= values ONLY, for the pin-window presence check: a
          // surviving `gen=<n>` centroid-generation dir must not mask
          // total loss of the pinned epoch DATA (gen and epoch are
          // different number spaces; r21 ADVICE fix)
          val epochOnlyVals = subDirs
            .filter(_.getPath.getName.startsWith("epoch="))
            .flatMap(d => IndexManifest.versionedDirValue(d.getPath.getName))
          val malformed = subDirs.map(_.getPath.getName)
            .filter(nm => (nm.startsWith("epoch=") || nm.startsWith("gen=")) &&
              IndexManifest.versionedDirValue(nm).isEmpty).distinct.sorted
          val pinFiles = IndexManifest.pinFiles(path)
          val livePins = pinFiles.flatMap(_._2)
          val unreadablePins = pinFiles.collect { case (nm, None) => nm }.sorted
          def pinCovers(v: Long): Boolean =
            livePins.exists(p => p.floor <= v && v <= p.epoch)
          val orphans = epochVals.filter(_ > st.epoch).distinct.sorted
          val stale = epochVals.filter(_ < st.baseEpoch)
          val reclaimable = stale.filterNot(pinCovers)
          val stalePinned = stale.filter(pinCovers)
          val strays = (level1 ++ dirListings.flatMap(_._2))
            .filter(_.isFile).map(_.getPath.getName)
            .filter(nm => nm.startsWith(".") && nm.endsWith(".tmp"))
            .distinct.sorted
          if (orphans.nonEmpty)
            findings += (("orphan_stage", "info",
              "epochs=" + capped(orphans.map(_.toString))))
          if (reclaimable.nonEmpty)
            findings += (("stale_epochs", "warn", s"reclaimable=${reclaimable.size}"))
          if (stalePinned.nonEmpty)
            findings += (("stale_pinned", "info", s"dirs=${stalePinned.size}"))
          if (strays.nonEmpty)
            findings += (("stray_tmp", "info", capped(strays)))
          if (malformed.nonEmpty)
            findings += (("malformed_dir", "info", capped(malformed)))
          if (unreadablePins.nonEmpty)
            findings += (("pin_unreadable", "error", capped(unreadablePins)))
          livePins.sortBy(_.owner).foreach { p =>
            if (p.floor > p.epoch)
              findings += (("pin_inverted", "warn",
                s"owner=${p.owner} window=${p.floor}-${p.epoch}"))
            else {
              // beyond-head and window-missing are INDEPENDENT findings
              // (r21 ADVICE fix): a manifest rolled back under a pin
              // whose below-floor window was also destroyed must report
              // the error-level window loss, not just the warn — the
              // existing min() clamp already bounds the checked window
              // to the committed side
              if (p.epoch > st.epoch)
                findings += (("pin_beyond_head", "warn",
                  s"owner=${p.owner} epoch=${p.epoch} head=${st.epoch}"))
              if (p.floor < st.baseEpoch) {
                val hi = math.min(p.epoch, st.baseEpoch - 1L)
                val present = epochOnlyVals.exists(v => p.floor <= v && v <= hi)
                if (!present)
                  findings += (("pin_window_missing", "error",
                    s"owner=${p.owner} window=${p.floor}-$hi"))
              }
            }
          }
          if (findings.isEmpty) Seq((name, st.family, "ok", "ok", ""))
          else findings.toSeq.map { case (c, sev, det) =>
            (name, st.family, c, sev, det)
          }
      }
    }.toDF("name", "family", "finding", "severity", "detail")
  }

  // ---------------------------------------------------------------------
  // Snapshot EXPORT — the reproducibility primitive made into a release
  // artifact. Time travel (stateAsOf) lets a reader pin a past epoch,
  // but the pin dies the moment a compaction moves the window floor and
  // the janitor vacuums the superseded epochs: "the epoch my training
  // run read" is only replayable while the source's maintenance
  // schedule happens to preserve it. exportSnapshot clones the pinned
  // window into a standalone root — same manifest machinery, same
  // component layout, byte-identical files — so the clone's HEAD is
  // the pinned view forever, immune to whatever append/compact/vacuum
  // the source does next. A training-data release is exactly this: an
  // immutable artifact with the index state the run actually used.
  //
  // The copy is FILE-level, never row-level: a Spark re-write would
  // re-partition the data and silently degrade layout the readers
  // exploit (the layout family's z-order file clustering, the postings'
  // bucket directories), while byte-copied files keep every footer
  // statistic and directory shape intact. The file list is O(files)
  // driver work (the same listing class as describe/vacuum); the bytes
  // move in a distributed Spark job — one task per file batch — which
  // is the 100 TB shape of every distcp-style export.
  //
  // DATA PLANE and CONTROL PLANE both ride the Hadoop FileSystem API:
  // the listing and the per-file byte copies — everything that scales
  // with the index — resolve per-path from fully-qualified URIs on the
  // executors, so the distcp shape holds on any Hadoop-backed store
  // (an executor-local java.nio copy would silently scatter the clone
  // across executor disks on a real cluster — the round-18 advisor's
  // finding); the manifest flip and the pin ledger (one tiny file
  // each, driver-side) go through [[LedgerIO]], resolved from the
  // root's own scheme, so source and destination roots can live on
  // HDFS/S3 like their data does. Per-store rename-atomicity caveats
  // (HDFS atomic; object stores copy+delete under the single-writer
  // contract) are the matrix on [[LedgerIO]]'s scaladoc.
  //
  // What is copied, per the fleet's on-disk grammar:
  //   - component/epoch=N directories with floor <= N <= pinned epoch
  //     (append-only slices and rewrite stages share this filter: a
  //     rewrite epoch above the pin must not leak into the clone);
  //   - component/gen=N directories under the same filter (the IVF-PQ
  //     centroid generations are keyed by window floors);
  //   - un-versioned component directories verbatim (e.g. the PQ
  //     codewords trained once at build);
  //   - root-level regular files except the manifest (future ledgers);
  // then a fresh manifest commits the clone at (pinned epoch, floor) in
  // the source's family — every family reader works on the clone
  // unchanged, including further as-of pins WITHIN the cloned window.
  // ---------------------------------------------------------------------

  /** Clone the index at `src` into the empty/nonexistent root `dst`,
    * pinned at `asOf` (default: the committed head). Returns the
    * clone's committed state.
    */
  /** Resolve what an export of `src` pinned at `asOf` would clone:
    * manifest present, format current (committedState, not the raw
    * read — a stale stored format_version must fail fast here, or the
    * clone's fresh manifest would silently relabel old bytes as the
    * current format and defeat the readers' version gate), pin inside
    * the committed window. Shared by [[exportSnapshot]] and
    * [[exportCascadePair]]'s up-front hoist so the two can never
    * silently diverge.
    */
  private def resolveExportState(src: String, asOf: Option[Long])
      : (IndexManifest.State, IndexManifest.Format) = {
    val head = IndexManifest.read(src).getOrElse(throw new IllegalStateException(
      s"no commit manifest at $src - nothing exportable (crashed or pre-manifest build)"))
    val fmt = StoredIndex.formatOf(head.family)
    val st = asOf.map(IndexManifest.stateAsOf(src, _, fmt))
      .getOrElse(IndexManifest.committedState(src, fmt))
    (st, fmt)
  }

  /** Probe whether `root` is unwritable for PERMISSION reasons: create
    * + delete a uniquely-named dotfile and classify the failure. Used
    * to narrow the best-effort-unpinned export path — the raw local
    * FS's "Mkdirs failed to create" message cannot distinguish a
    * read-only root (proceed unpinned: no janitor can exist there)
    * from a full/flaky disk (fail the export loudly). Only a
    * provably-denied probe returns true; any other probe failure —
    * including success-then-failed-delete — returns false so the
    * original error propagates.
    */
  private def provablyUnwritable(root: HPath, token: String): Boolean = {
    val fs = root.getFileSystem(LedgerIO.conf)
    val probe = new HPath(root, s".graft_write_probe_$token")
    try {
      val out = fs.create(probe, true)
      out.close()
      fs.delete(probe, false)
      false
    } catch {
      case _: org.apache.hadoop.security.AccessControlException => true
      case e: java.io.FileNotFoundException
          if e.getMessage != null && e.getMessage.contains("Permission denied") =>
        true
      case _: Throwable => false
    }
  }

  /** Qualify a root given as a plain local path or a URI (`file:///…`)
    * against its own FileSystem — the form every listing and copy key
    * off, so scheme resolution happens once, here.
    */
  private def qualifiedRoot(s: SparkSession, p: String): HPath = {
    val raw = new HPath(p)
    raw.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(raw)
  }

  def exportSnapshot(s: SparkSession, src: String, dst: String,
      asOf: Option[Long] = None): IndexManifest.State = {
    val conf = s.sparkContext.hadoopConfiguration
    val srcP = qualifiedRoot(s, src)
    val dstP = qualifiedRoot(s, dst)
    val dstFs = dstP.getFileSystem(conf)
    // control plane (manifest/pins) and data plane both resolve their
    // FileSystem from the qualified URI — any Hadoop-backed root works
    val srcQ = srcP.toString
    val (st, fmt) = resolveExportState(srcQ, asOf)
    require(!dstFs.exists(dstP) || (dstFs.getFileStatus(dstP).isDirectory &&
        dstFs.listStatus(dstP).isEmpty),
      s"export destination $dst exists and is not empty - refusing to merge into it")
    // In-flight pin on the SOURCE for the duration of the copy: a
    // concurrent vacuum SKIPS the window being exported instead of
    // racing it (the janitor re-checks the ledger per directory, so
    // the practical window collapses; the residual instant is the
    // lock-free check-then-act inherent to every manifest-table
    // janitor, bounded operationally by the retention-delay knob).
    // Owner is deterministic per destination: a crashed export's
    // leftover pin is visible in the advisor and re-running the same
    // export replaces (then releases) it — self-healing. Two LIVE
    // exports sharing a destination would also share the owner, but
    // that call pattern is already invalid (the dst-empty require
    // makes one of them fail).
    // BEST-EFFORT on read-only sources ONLY: pin registration writes to
    // the source root; if that write is DENIED (the exceptions below,
    // which mean no write access — the Hadoop security exception, plus
    // the raw local FS's permission-denied FileNotFound and the nio
    // forms older stores surface), the export proceeds unpinned — a
    // janitor needs the same write access we were denied, so on a
    // genuinely read-only root there is no janitor to race. Any OTHER
    // IO failure (transient NFS error, disk full) propagates and fails
    // the export loudly: proceeding unpinned there would silently
    // forfeit the janitor-race protection on a writable source.
    // Owner token is a collision-resistant digest of the qualified
    // destination URI (NOT String.hashCode: 32 bits of hash across a
    // fleet of concurrent exports is birthday-collision territory, and
    // two distinct destinations sharing one pin file means the first
    // export to finish releases the other's protection mid-copy).
    val pinOwner = "export:" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(dstP.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    val pin0: Option[IndexManifest.Pin] =
      try Some(IndexManifest.registerPin(srcQ, pinOwner, st.epoch, fmt))
      catch {
        case _: org.apache.hadoop.security.AccessControlException => None
        case e: java.io.FileNotFoundException
            if e.getMessage != null && e.getMessage.contains("Permission denied") =>
          None // the raw local FS reports an unwritable existing parent this way
        case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.startsWith("Mkdirs failed to create") &&
              provablyUnwritable(srcP, pinOwner) =>
          // the raw local FS reports an uncreatable pins dir this way —
          // the COMMON read-only case, since clones deliberately ship
          // without _graft_pins (so the dir must be created to pin).
          // BUT the same message fires for ANY mkdir failure (disk
          // full, transient EIO), so a probe write distinguishes:
          // only a provably permission-denied root proceeds unpinned;
          // everything else rethrows the original failure loudly.
          None
        case _: java.nio.file.AccessDeniedException => None
        case _: java.nio.file.ReadOnlyFileSystemException => None
      }
    val win = pin0 match {
      case None => st
      case Some(first) =>
        // Close the resolve->pin TOCTOU: a compaction landing between
        // the state resolution above and the pin write raises the floor
        // the pin records above the resolved copy window's, leaving the
        // window's lower epochs unprotected against a racing vacuum.
        // Re-resolve AT the pinned epoch until the resolved floor
        // equals the pin's recorded floor — then the copy window is
        // exactly the pin-protected set [pin.floor, pin.epoch]. Each
        // re-pin re-reads the live state (registerPin resolves through
        // stateAsOf), so the loop settles in one pass unless
        // compactions land continuously; exhausting the retries is a
        // loud failure, never a copy of an unprotected window.
        var p = first
        var settled = IndexManifest.stateAsOf(srcQ, st.epoch, fmt)
        var attempts = 0
        while (settled.baseEpoch != p.floor && attempts < 5) {
          p = IndexManifest.registerPin(srcQ, pinOwner, st.epoch, fmt)
          settled = IndexManifest.stateAsOf(srcQ, st.epoch, fmt)
          attempts += 1
        }
        if (settled.baseEpoch != p.floor) {
          IndexManifest.releasePin(srcQ, pinOwner)
          throw new IllegalStateException(
            s"export of $src: window floor kept moving under the pin " +
              s"(pin floor ${p.floor} vs resolved ${settled.baseEpoch} after " +
              s"$attempts retries) - concurrent compactions are landing " +
              "continuously; quiesce maintenance and re-run the export")
        }
        settled
    }
    try {
      doExport(s, srcP, dstP, win, fmt)
    } finally if (pin0.nonEmpty) IndexManifest.releasePin(srcQ, pinOwner)
  }

  /** The listing + distributed copy + clone commit — [[exportSnapshot]]'s
    * body, under the caller's in-flight source pin.
    */
  private def doExport(s: SparkSession, srcP: HPath, dstP: HPath,
      st: IndexManifest.State, fmt: IndexManifest.Format): IndexManifest.State = {
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    val srcFs = srcP.getFileSystem(conf)

    def ls(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      if (!srcFs.exists(p) || !srcFs.getFileStatus(p).isDirectory) Seq.empty
      else srcFs.listStatus(p).toVector
    def filesUnder(p: HPath): Seq[HPath] = {
      val it = srcFs.listFiles(p, true)
      val b = Vector.newBuilder[HPath]
      while (it.hasNext) b += it.next().getPath
      b.result()
    }
    // Versioned-name grammar: epoch=<long> / gen=<long>. A name that
    // CLAIMS a version but fails to parse (`epoch=abc`, a crash-orphaned
    // `epoch=3.tmp`) is unreachable by every reader — partition
    // discovery and exact-path resolution both key on the numeric value
    // — so it is SKIPPED: the un-versioned fallback used to copy such
    // orphans verbatim, resurrecting unreachable staging bytes into a
    // release artifact (the round-18 advisor's second finding).
    def keepSub(sub: org.apache.hadoop.fs.FileStatus): Seq[HPath] = {
      val name = sub.getPath.getName
      if (sub.isFile) Seq(sub.getPath) // stray component-level file, as before
      else Seq("epoch=", "gen=").find(name.startsWith) match {
        case Some(pre) => name.stripPrefix(pre).toLongOption match {
          case Some(v) if v >= st.baseEpoch && v <= st.epoch => filesUnder(sub.getPath)
          case _ => Seq.empty // outside the pinned window, or a malformed orphan
        }
        case None => filesUnder(sub.getPath) // un-versioned component content
      }
    }

    val kept: Seq[HPath] = ls(srcP).flatMap { child =>
      val name = child.getPath.getName
      if (child.isFile)
        if (name == "_graft_manifest.json" || name.startsWith("._graft_manifest"))
          Seq.empty
        else Seq(child.getPath)
      else if (name == "_graft_pins") Seq.empty // live-reader state of the SOURCE
      else ls(child.getPath).flatMap(keepSub)
    }
    val srcRoot = srcP.toUri.getPath.stripSuffix("/") + "/"
    val pairs = kept.map { f =>
      (f.toString, new HPath(dstP, f.toUri.getPath.stripPrefix(srcRoot)).toString)
    }
    // Distributed byte copy over the Hadoop FileSystem API: each task
    // resolves both FileSystems from the fully-qualified URIs under the
    // driver's shipped Hadoop conf, so the bytes land on the DESTINATION
    // store, never an executor-local disk. Overwrite keeps task retries
    // idempotent (same contract the nio REPLACE_EXISTING copy had).
    if (pairs.nonEmpty) {
      val confEntries = s.sparkContext.broadcast(
        conf.iterator().asScala.map(e => e.getKey -> e.getValue).toVector)
      s.sparkContext.parallelize(pairs, math.min(pairs.size, 32))
        .foreachPartition { it =>
          val c = new org.apache.hadoop.conf.Configuration(false)
          confEntries.value.foreach { case (k, v) => c.set(k, v) }
          it.foreach { case (from, to) =>
            val fp = new HPath(from)
            val tp = new HPath(to)
            org.apache.hadoop.fs.FileUtil.copy(
              fp.getFileSystem(c), fp, tp.getFileSystem(c), tp,
              false /* deleteSource */, true /* overwrite */, c)
          }
        }
    }
    IndexManifest.commit(dstP.toString, st.epoch, st.baseEpoch, fmt)
    st
  }

  /** Export the stored cascade's two artifacts as ONE release: the
    * recorded (bq, sq8) epoch pair a serve logged — the cross-tier
    * consistency unit ([[graft.queries.VectorOps.searchCascadeIndex]]'s
    * independent as-of pins) — cloned into two fresh roots, so "replay
    * the exact serve" survives both sources' maintenance schedules.
    * EVERY argument validates BEFORE either copy starts — both
    * destinations (empty, DISTINCT, non-nested), both sources
    * (manifest present, format current) and both pins (inside their
    * committed windows) — so a bad argument cannot leave a committed,
    * readable half-pair behind; each clone is itself atomic at its
    * manifest commit, and a crash between the two clones leaves the
    * second root manifest-less = unreadable by contract, so a partial
    * pair can never serve (re-run the export; the first clone's root
    * must then be cleared — it refuses merges). Each clone holds an
    * in-flight pin on its source for the duration of its copy
    * ([[exportSnapshot]]), so a janitor racing the export SKIPS the
    * window being cloned instead of deleting it mid-copy; the only
    * remaining race is a compaction+vacuum landing BETWEEN the up-front
    * resolve and the second clone's pin, which surfaces as that clone's
    * loud pin/resolve failure with the first root still manifest-less
    * or fully-committed — never a silently torn pair.
    */
  def exportCascadePair(s: SparkSession, bqSrc: String, sq8Src: String,
      bqDst: String, sq8Dst: String,
      bqAsOf: Option[Long] = None, sq8AsOf: Option[Long] = None)
      : (IndexManifest.State, IndexManifest.State) = {
    val conf = s.sparkContext.hadoopConfiguration
    val (bqP, sqP) = (qualifiedRoot(s, bqDst), qualifiedRoot(s, sq8Dst))
    def rooted(p: HPath) = p.toUri.toString.stripSuffix("/") + "/"
    require(rooted(bqP) != rooted(sqP) && !rooted(bqP).startsWith(rooted(sqP)) &&
        !rooted(sqP).startsWith(rooted(bqP)),
      s"pair destinations must be distinct, non-nested roots - got $bqP and $sqP " +
        "(the first clone's manifest would make the second's root non-empty or readable)")
    Seq(bqP, sqP).foreach { p =>
      val fs = p.getFileSystem(conf)
      require(!fs.exists(p) ||
          (fs.getFileStatus(p).isDirectory && fs.listStatus(p).isEmpty),
        s"export destination $p exists and is not empty - refusing to merge into it")
    }
    // fail on a bad source/pin while NOTHING is written yet — the exact
    // resolution exportSnapshot performs, shared so it can't diverge
    resolveExportState(qualifiedRoot(s, bqSrc).toString, bqAsOf)
    resolveExportState(qualifiedRoot(s, sq8Src).toString, sq8AsOf)
    (exportSnapshot(s, bqSrc, bqDst, bqAsOf),
      exportSnapshot(s, sq8Src, sq8Dst, sq8AsOf))
  }
}
