package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source gates that keep one copy of two shared recipes. The oracle-checked
  * queries run the `Engine` operators they mirror, so a query body must not
  * grow a private copy of a recipe that has a home:
  *   - the md5 hex-digit lane lives in `Stats.md5HexLane`;
  *   - the keyed last-row fold (`max_by(struct(...), struct(order))`) lives
  *     in `Upsert.lastRowPerKey`.
  * Comments are stripped before the scan, so prose may still name either.
  */
class OneCopyContractSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** Engine.scala and every query family file, comments removed. */
  private def scanned: Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val stream = Files.walk(root.resolve("queries"))
    val files = try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    (root.resolve("Engine.scala") +: files).map { p =>
      p -> new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .split("\n").map(_.replaceAll("//.*", "")).mkString("\n")
    }
  }

  test("no query or Engine operator spells out the md5 hex-digit lane") {
    val hits = scanned.collect { case (p, code) if code.contains("0123456789abcdef") => p }
    assert(hits.isEmpty, s"md5 hex lane written by hand outside Stats.md5HexLane: ${hits.mkString(", ")}")
  }

  test("no query or Engine operator writes its own keyed last-row fold") {
    val fold = "max_by\\(\\s*struct\\(".r
    val hits = scanned.collect { case (p, code) if fold.findFirstIn(code).nonEmpty => p }
    assert(hits.isEmpty, s"last-row fold written outside Upsert.lastRowPerKey: ${hits.mkString(", ")}")
  }
}
