package graft.streaming

import graft.SparkSpec
import graft.queries.LayoutOps
import graft.sources.IndexManifest

/** The event-table ingest batch is the single-family ingest body: like
  * the index and cascade ingests, an empty micro-batch commits nothing.
  */
class EventTableIngestSpec extends SparkSpec {

  import spark.implicits._

  test("an empty event-table batch commits no epoch") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def evs(rows: (Long, Long, String, Long)*) =
      rows.toDF("event_id", "user_id", "event_type", "ts_sec")
    val dir = tmp("ztable-empty"); val ledger = tmp("ztable-empty-ledger")
    LayoutOps.writeEventTable(evs((1L, 3L, "view", 19740L * 86400 + 10)), dir, nFiles = 1)
    def epoch = IndexManifest.committedEpoch(dir, IndexManifest.Layout)

    Streams.applyEventTableBatch(evs(), dir, ledger, batchId = 0L, nFiles = 1)
    assert(epoch === 0L, "an empty batch must not stage and advance an epoch")
    // the next non-empty batch still commits exactly one epoch
    Streams.applyEventTableBatch(evs((2L, 4L, "click", 19741L * 86400 + 5)),
      dir, ledger, batchId = 1L, nFiles = 1)
    assert(epoch === 1L)
    assert(LayoutOps.readEventTable(spark, dir).count() === 2L)
  }
}
