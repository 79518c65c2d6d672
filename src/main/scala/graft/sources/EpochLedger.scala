package graft.sources

import org.apache.hadoop.fs.{Path => HPath}

/** The WRITE-AHEAD EPOCH LEDGER behind every exactly-once path whose
  * per-family fold is not idempotent — durable erasure, the paired
  * cascade append and the ledgered streams. Replaying a committed
  * forget double-subtracts its give-back stats, and replaying a
  * committed append double-appends, so each path records its legs'
  * pre-epochs before it touches anything and replays only the legs
  * that have not advanced. The protocol, stated once:
  *
  *   1. RECORD. An entry holds a `grain=<g>` header, then one
  *      `tag\tpre\tpath` row per leg: the leg's committed head before
  *      the operation. It is written atomically (tmp+rename through
  *      [[LedgerIO]]) before any leg runs. An existing entry is read,
  *      never re-recorded, so every replay sees the first snapshot.
  *   2. CLASSIFY every leg before any leg runs. Each family op
  *      advances exactly one epoch ([[StoredIndex.nextEpoch]]), so
  *        - head == pre: the leg is pending and runs;
  *        - head == pre + 1: the leg is done and is skipped;
  *        - anything else: a foreign writer (or a rebuild) moved the
  *          manifest. One [[java.util.ConcurrentModificationException]]
  *          names the leg, and nothing runs: a skip would leave that
  *          family serving what the operation removed, or missing what
  *          it added.
  *   3. SETTLE. A directory entry (`<root>/_intent.ledger`, next to
  *      its payload) completes by renaming to `_completed.ledger`, the
  *      audit trail. Stream entries are keyed by batch id and pruned
  *      once settled: micro-batches run serially, so no entry below
  *      the running batch can replay.
  *
  * What remains on the single-writer contract: a foreign writer that
  * advances a pending leg by exactly one epoch reads as that leg's own
  * commit.
  */
object EpochLedger {

  /** One leg: a stored root under its tag, and the reader of its
    * committed head.
    */
  final case class Leg(tag: String, path: String, head: () => Long)

  object Leg {
    /** A family leg, read from the family's manifest. The tags are the
      * family tags, except `table` for the event table.
      */
    def apply(tag: String, path: String): Leg = {
      val decl = StoredIndex.byFamily(if (tag == "table") StoredIndex.Layout.family else tag)
      Leg(tag, path, () => decl.head(path))
    }
  }

  /** Family legs over (tag, path) targets, in their order. */
  def legs(targets: Seq[(String, String)]): Seq[Leg] =
    targets.map { case (tag, path) => Leg(tag, path) }

  /** Read-or-record the entry at `file`, then classify: the pending
    * legs, in order. A recorded entry must list exactly these legs.
    */
  def pending(file: HPath, grain: String, legs: Seq[Leg]): Seq[Leg] = {
    val pres = read(file, grain) match {
      case Some(rows) =>
        if (rows.map(r => (r._1, r._3)) != legs.map(l => (l.tag, l.path)))
          throw new IllegalStateException(s"epoch ledger entry $file records legs " +
            rows.map(r => s"${r._1}@${r._3}").mkString(", ") + " but this run targets " +
            legs.map(l => s"${l.tag}@${l.path}").mkString(", "))
        rows.map(_._2)
      case None =>
        val pres = legs.map(_.head())
        val body = (s"grain=$grain" +: legs.zip(pres).map { case (l, pre) =>
          s"${l.tag}\t$pre\t${l.path}"
        }).mkString("", "\n", "\n")
        LedgerIO.writeAtomic(file, s".${file.getName}.tmp", body)
        pres
    }
    classify(file.toString, legs.zip(pres))
  }

  /** Resume the open intent under `root` from disk alone: its pending
    * family legs. `what` names the operation in the nothing-to-resume
    * error.
    */
  def resume(root: String, grain: String, what: String): Seq[Leg] = {
    val rows = read(intent(root), grain).getOrElse(throw new IllegalArgumentException(
      s"requirement failed: no pending $what intent at $root - nothing to resume"))
    classify(intent(root).toString, rows.map { case (tag, pre, path) => Leg(tag, path) -> pre })
  }

  /** The classification (step 2) over legs with their pre-epochs;
    * `where` names the ledger in the violation.
    */
  def classify(where: String, legs: Seq[(Leg, Long)]): Seq[Leg] = {
    val heads = legs.map { case (leg, pre) => (leg, pre, leg.head()) }
    heads.find { case (_, pre, head) => head != pre && head != pre + 1L }.foreach {
      case (leg, pre, head) =>
        throw new java.util.ConcurrentModificationException(
          s"single-writer violation in $where: leg '${leg.tag}' at ${leg.path} has " +
            s"committed epoch $head but its pre-epoch is $pre - " +
            (if (head < pre) "the index went backwards (rebuilt underneath the stream)"
             else "a foreign writer advanced it") +
            "; refusing to run any leg (a skip would silently diverge it)")
    }
    heads.collect { case (leg, pre, head) if head == pre => leg }
  }

  private def read(file: HPath, grain: String): Option[Seq[(String, Long, String)]] =
    LedgerIO.readIfExists(file).map { text =>
      val lines = text.linesIterator.filter(_.nonEmpty).toSeq
      def bad(why: String) = new IllegalStateException(
        s"epoch ledger entry $file is unreadable: $why - an entry this build did not " +
          "write (settle or remove it by hand)")
      if (!lines.headOption.contains(s"grain=$grain"))
        throw bad(s"expected header 'grain=$grain', found '${lines.headOption.getOrElse("")}'")
      lines.tail.map { ln =>
        ln.split('\t') match {
          case Array(tag, pre, path) if pre.toLongOption.nonEmpty => (tag, pre.toLong, path)
          case _ => throw bad(s"malformed row '$ln'")
        }
      }
    }

  /** The open intent of a durable operation rooted at `root`. */
  def intent(root: String): HPath = LedgerIO.child(root, "_intent.ledger")

  private def completed(root: String): HPath = LedgerIO.child(root, "_completed.ledger")

  def isOpen(root: String): Boolean = LedgerIO.exists(intent(root))

  def isCompleted(root: String): Boolean = LedgerIO.exists(completed(root))

  /** Settle a durable operation: its intent becomes the audit trail. */
  def complete(root: String): Unit = LedgerIO.renameOverwrite(intent(root), completed(root))

  /** Batch `batchId`'s entry under a stream's ledger directory: the file
    * `batch-N<ext>`, or with no `ext` the per-batch intent root `batch-N`.
    */
  def batch(dir: String, batchId: Long, ext: String = ""): HPath =
    LedgerIO.child(dir, s"batch-$batchId$ext")

  private val BatchEntry = """batch-(\d+)(\.ledger|\.epoch)?""".r

  /** Prune settled entries below the running batch: `batch-K.ledger` and
    * `batch-K.epoch` files, and `batch-K` roots once completed (a root
    * without its completed marker should not exist below the running
    * batch, and stays).
    */
  def prune(dir: String, batchId: Long): Unit =
    LedgerIO.listStatus(LedgerIO.root(dir)).foreach { st =>
      st.getPath.getName match {
        case BatchEntry(k, ext) if k.toLongOption.exists(_ < batchId) =>
          if (ext != null) LedgerIO.deleteIfExists(st.getPath)
          else if (isCompleted(st.getPath.toString)) LedgerIO.deleteRecursive(st.getPath)
        case _ => ()
      }
    }
}
