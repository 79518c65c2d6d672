package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for measurement claims: any source comment of the form
  * `SCALING.md ("Section name")` is a promise that SCALING.md contains a
  * heading with that name. Round 6 shipped three comments pointing at
  * sections that were never written — this spec makes that class of doc
  * drift a test failure, the same way PlansDocSpec guards PLANS.md.
  *
  * Convention: cite numbers as `recorded in SCALING.md ("<heading
  * fragment>")` — the fragment must appear in some `#`-prefixed heading.
  * A bare `recorded in SCALING.md` with no quoted section also fails:
  * unanchored claims are how the drift crept in. In `src/main` EVERY
  * mention of SCALING.md must be such a marker (text may follow the
  * closing quote, as in `SCALING.md ("<heading>" section, PQ rows)`).
  *
  * The same holds for probe names: a `Prof*` object (or the old streaming
  * bench main) named in `src/` or `tools/` must still exist as an
  * `object`, so a deleted probe cannot stay cited as evidence — cite the
  * SCALING.md heading that records its verdict instead.
  */
class ScalingDocSpec extends AnyFunSuite {

  private val marker = """SCALING\.md \("([^"\n]+)"""".r
  private val bare = """recorded in SCALING\.md(?! \(")""".r
  private val unmarked = """SCALING\.md(?! \(")""".r
  private val probe = """\b(Prof[A-Z]\w*|StreamB[e]nch)\b""".r

  private def sources(exts: String*): Seq[Path] =
    (Files.walk(Paths.get("src")).iterator.asScala
      ++ Files.walk(Paths.get("tools")).iterator.asScala)
      .filter(p => exts.exists(p.toString.endsWith))
      .filterNot(_.toString.endsWith("ScalingDocSpec.scala")) // the definition site
      .toSeq

  private def scalaSources: Seq[Path] = sources(".scala")

  private lazy val headings: Seq[String] =
    Files.readAllLines(Paths.get("SCALING.md")).asScala.toSeq
      .filter(_.startsWith("#"))
      .map(_.dropWhile(c => c == '#' || c == ' '))

  test("every quoted SCALING.md marker in source names an existing heading") {
    val claims = scalaSources.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      marker.findAllMatchIn(text).map(m => (p.toString, m.group(1))).toSeq
    }
    assert(claims.nonEmpty, "marker scan found nothing — regex or layout drifted")
    val broken = claims.filterNot { case (_, section) =>
      headings.exists(_.contains(section))
    }
    assert(broken.isEmpty,
      s"source cites SCALING.md sections that do not exist: ${broken.mkString(", ")}\n" +
        s"headings present: ${headings.mkString(" | ")}")
  }

  test("no unanchored 'recorded in SCALING.md' claims") {
    val loose = scalaSources.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      bare.findAllMatchIn(text).map(_ => p.toString).toSeq
    }
    assert(loose.isEmpty,
      s"""unanchored claims (add ("<heading fragment>")): ${loose.mkString(", ")}""")
  }

  test("every SCALING.md mention in src/main is a quoted-heading marker") {
    val loose = scalaSources.filter(_.startsWith(Paths.get("src", "main"))).flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toSeq
      lines.zipWithIndex.collect {
        case (l, i) if unmarked.findFirstIn(l).isDefined => s"$p:${i + 1}"
      }
    }
    assert(loose.isEmpty,
      s"""SCALING.md cited without ("<heading fragment>"): ${loose.mkString(", ")}""")
  }

  test("every probe named in src/ or tools/ is an object that still exists") {
    val texts = sources(".scala", ".py", ".sh")
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
    val named = texts.flatMap { case (f, text) =>
      probe.findAllMatchIn(text).map(m => (f, m.group(1))).toSeq
    }
    val unresolved = named.filterNot { case (_, name) =>
      texts.exists { case (f, text) =>
        f.endsWith(".scala") && (raw"\bobject " + name + raw"\b").r.findFirstIn(text).isDefined
      }
    }
    assert(unresolved.isEmpty,
      "source names probes that no longer exist (cite their SCALING.md heading): " +
        unresolved.distinct.mkString(", "))
  }
}
