package graft.sources

/** Run independent Spark actions from a small driver thread pool (guide
  * §2.6 overlap): actions are only sequential because driver code calls
  * them sequentially, and a lifecycle write's component jobs (a handful
  * of small parquet writes per index root) each pay the local job floor
  * — overlapping them lets the next component's tasks back-fill cores
  * idled by the current one's commit tail. Used by the index-build
  * writers (components of ONE epoch, manifest commit strictly after all
  * of them land) and the stored-fleet drills (independent roots).
  *
  * The system property `graft.overlap.sequential=true` (`-D` on the JVM,
  * or `System.setProperty` inside it) runs the tasks in declaration
  * order on the caller thread — the switch the paired A/Bs measured
  * against (2.23x on the cert-fleet lifecycle,
  * SCALING.md ("Round-22 (optimization round 2)")) and the escape hatch
  * for a driver where concurrent root builds would contend with
  * higher-priority jobs.
  *
  * Failure semantics: the first failing task's exception propagates,
  * but only after every sibling has STOPPED. The siblings' Spark jobs
  * carry one job tag per run and are cancelled through it, their
  * threads are interrupted, and `run` waits for each of them to return
  * before rethrowing — so a caller retrying the failed stage never
  * races a sibling still writing into the same epoch directory. (The
  * sequential form stops at the failing task; the overlapped form may
  * have finished some siblings first — either way nothing commits
  * until the caller does, the crash window the manifest protocol
  * already tolerates.)
  */
private[graft] object Overlap {

  private def sequentialMode: Boolean =
    sys.props.get("graft.overlap.sequential").contains("true")

  def run(tasks: (String, () => Unit)*): Unit = {
    if (tasks.size <= 1 || sequentialMode) { tasks.foreach(_._2()); return }
    val sc = {
      import org.apache.spark.sql.SparkSession
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    }
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    val done = new java.util.concurrent.ExecutorCompletionService[Unit](pool)
    try {
      val futs = tasks.map { case (_, f) =>
        done.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.foreach(_.addJobTag(tag))
            try f() finally sc.foreach(_.removeJobTag(tag))
          }
        })
      }
      // completion order, not declaration order: the FIRST failure
      // stops the run, whichever task it came from
      var failure: Option[Throwable] = None
      var finished = 0
      while (failure.isEmpty && finished < futs.size) {
        try done.take().get()
        catch { case e: java.util.concurrent.ExecutionException => failure = Some(e.getCause) }
        finished += 1
      }
      failure.foreach { cause =>
        sc.foreach(_.cancelJobsWithTag(tag))
        futs.foreach(_.cancel(true))
        pool.shutdown()
        while (!pool.awaitTermination(1L, java.util.concurrent.TimeUnit.SECONDS)) {
          sc.foreach(_.cancelJobsWithTag(tag)) // a job a sibling started since
        }
        throw cause
      }
    } finally pool.shutdownNow()
  }
}
