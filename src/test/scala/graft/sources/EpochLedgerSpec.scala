package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The write-ahead epoch ledger on its own: pure JVM over a local file
  * system, legs backed by counters or by manifests committed directly.
  */
class EpochLedgerSpec extends AnyFunSuite {

  import EpochLedger.Leg

  private def tmp(p: String): Path = Files.createTempDirectory(p)

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def write(p: Path, body: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  test("read-or-record returns the first snapshot after heads move") {
    val dir = tmp("eled-record")
    var a = 3L; var b = 7L
    val legs = Seq(Leg("a", "/idx/a", () => a), Leg("b", "/idx/b", () => b))
    val entry = EpochLedger.batch(dir.toString, 0L, ".ledger")
    assert(EpochLedger.pending(entry, "doc", legs).map(_.tag) === Seq("a", "b"))
    assert(read(dir.resolve("batch-0.ledger")) === "grain=doc\na\t3\t/idx/a\nb\t7\t/idx/b\n")
    // leg a commits its one epoch; a re-record would make it pending again
    a = 4L
    assert(EpochLedger.pending(entry, "doc", legs).map(_.tag) === Seq("b"))
    b = 8L
    assert(EpochLedger.pending(entry, "doc", legs).isEmpty)
    assert(read(dir.resolve("batch-0.ledger")) === "grain=doc\na\t3\t/idx/a\nb\t7\t/idx/b\n",
      "the entry is written once and never re-recorded")
  }

  test("classification: pending, done, and one loud violation either way") {
    var h = 5L
    val legs = Seq(Leg("lsh", "/idx/lsh", () => h) -> 5L)
    assert(EpochLedger.classify("drill", legs).map(_.tag) === Seq("lsh"))
    h = 6L
    assert(EpochLedger.classify("drill", legs).isEmpty)
    h = 7L
    val ahead = intercept[java.util.ConcurrentModificationException] {
      EpochLedger.classify("drill", legs)
    }
    Seq("single-writer violation", "'lsh'", "/idx/lsh", "committed epoch 7", "pre-epoch is 5")
      .foreach(f => assert(ahead.getMessage.contains(f), s"missing '$f': ${ahead.getMessage}"))
    assert(!ahead.getMessage.contains("rebuilt underneath the stream"))
    h = 4L
    val behind = intercept[java.util.ConcurrentModificationException] {
      EpochLedger.classify("drill", legs)
    }
    Seq("single-writer violation", "committed epoch 4", "pre-epoch is 5",
      "rebuilt underneath the stream")
      .foreach(f => assert(behind.getMessage.contains(f), s"missing '$f': ${behind.getMessage}"))
  }

  test("every leg is validated before any leg runs") {
    val dir = tmp("eled-validate")
    var first = 0L; var second = 0L
    val legs = Seq(Leg("first", "/idx/1", () => first), Leg("second", "/idx/2", () => second))
    val entry = EpochLedger.batch(dir.toString, 3L, ".ledger")
    EpochLedger.pending(entry, "doc", legs) // record pre = (0, 0)
    second = 2L // a foreign writer takes the LATER leg twice
    val ran = collection.mutable.Buffer.empty[String]
    val ex = intercept[java.util.ConcurrentModificationException] {
      EpochLedger.pending(entry, "doc", legs).foreach(l => ran += l.tag)
    }
    assert(ex.getMessage.contains("'second'"))
    assert(ran.isEmpty, "the pending first leg must not run past a violation")
  }

  test("a recorded entry must list the legs the run targets") {
    val dir = tmp("eled-legs")
    val entry = EpochLedger.batch(dir.toString, 0L, ".ledger")
    EpochLedger.pending(entry, "doc", Seq(Leg("a", "/idx/a", () => 0L)))
    val ex = intercept[IllegalStateException] {
      EpochLedger.pending(entry, "doc", Seq(Leg("a", "/idx/other", () => 0L)))
    }
    assert(ex.getMessage.contains("batch-0.ledger"))
  }

  test("prune removes settled file and directory entries, keeps the in-flight ones") {
    val dir = tmp("eled-prune")
    write(dir.resolve("batch-0.ledger"), "grain=doc\n")
    write(dir.resolve("batch-1.epoch"), "grain=ingest\n")
    write(dir.resolve("batch-2/_completed.ledger"), "grain=cascade-append\n")
    write(dir.resolve("batch-2/delta/part-0"), "x")
    write(dir.resolve("batch-3/_intent.ledger"), "grain=cascade-append\n")
    write(dir.resolve("batch-5.ledger"), "grain=doc\n")
    write(dir.resolve("batch-6/_completed.ledger"), "grain=cascade-append\n")
    write(dir.resolve("notes.txt"), "kept")
    EpochLedger.prune(dir.toString, 5L)
    Seq("batch-0.ledger", "batch-1.epoch", "batch-2")
      .foreach(n => assert(!Files.exists(dir.resolve(n)), s"$n is settled"))
    Seq("batch-3/_intent.ledger", "batch-5.ledger", "batch-6/_completed.ledger", "notes.txt")
      .foreach(n => assert(Files.exists(dir.resolve(n)), s"$n must survive"))
  }

  test("an intent written in the established format resumes and completes") {
    val post = tmp("eled-post").toString; val lsh = tmp("eled-lsh").toString
    IndexManifest.commit(post, 1L, fmt = IndexManifest.Postings) // its forget landed
    IndexManifest.commit(lsh, 0L, fmt = IndexManifest.Lsh)       // not reached
    val root = tmp("eled-intent")
    write(root.resolve("_intent.ledger"), s"grain=doc\npostings\t0\t$post\nlsh\t0\t$lsh\n")
    assert(EpochLedger.isOpen(root.toString))
    val todo = EpochLedger.resume(root.toString, "doc", "erasure")
    assert(todo.map(l => l.tag -> l.path) === Seq("lsh" -> lsh))
    EpochLedger.complete(root.toString)
    assert(!EpochLedger.isOpen(root.toString) && EpochLedger.isCompleted(root.toString))
    assert(read(root.resolve("_completed.ledger")) ===
      s"grain=doc\npostings\t0\t$post\nlsh\t0\t$lsh\n")
    val none = intercept[IllegalArgumentException] {
      EpochLedger.resume(root.toString, "doc", "erasure")
    }
    assert(none.getMessage.contains("nothing to resume"))
  }

  test("a single-file entry in an older body fails loudly, naming its file") {
    val dir = tmp("eled-old")
    val legs = Seq(Leg("postings", "/idx/p", () => 0L), Leg("lsh", "/idx/l", () => 0L))
    for ((name, body) <- Seq(
        "batch-4.ledger" -> "postings=0\nlsh=0\n", // erasure stream: tag=epoch
        "batch-5.ledger" -> "5\n",                 // event-table stream: target epoch
        "batch-6.epoch" -> "0\n")) {               // index ingest: pre-epoch
      val f = dir.resolve(name)
      write(f, body)
      val ex = intercept[IllegalStateException] {
        EpochLedger.pending(LedgerIO.child(dir.toString, name), "doc", legs)
      }
      assert(ex.getMessage.contains(name), ex.getMessage)
      assert(read(f) === body, "an unreadable entry is never treated as absent")
    }
    assert(!Files.exists(Paths.get(dir.toString, ".batch-4.ledger.tmp")))
  }
}
