package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one session recipe every main builds through. Asserted on the pure
  * conf list: building a session here would return the shared
  * SparkTestSession from getOrCreate and mutate its runtime confs.
  */
class LocalSessionSpec extends AnyFunSuite {
  private val sf001 = "/root/testdata/sf0.01"
  private def confsFor(dir: String): Map[String, String] =
    LocalSession.confs(BenchProfile.forDir(dir, 32)).toMap

  test("sf0.01 runs in the interactive tier: 4 partitions, AQE and compression off") {
    val c = confsFor(sf001)
    assert(c("spark.sql.shuffle.partitions") === "4")
    assert(c("spark.sql.adaptive.enabled") === "false")
    assert(c("spark.shuffle.compress") === "false")
    assert(c("spark.shuffle.spill.compress") === "false")
  }

  test("every tier pins UTC and turns the UI off") {
    for (bytes <- Seq(0L, BenchProfile.InteractiveMax, Long.MaxValue)) {
      val c = LocalSession.confs(BenchProfile.tier(bytes, 32)).toMap
      assert(c("spark.sql.session.timeZone") === "UTC", s"at $bytes")
      assert(c("spark.ui.enabled") === "false", s"at $bytes")
    }
  }

  test("the LocalFsPerf levers are part of the recipe") {
    // the four confs LocalFsPerfSpec pins on the test session
    val c = confsFor(sf001)
    assert(c("spark.sql.codegen.cache.maxEntries") === "5000")
    assert(c("spark.sql.codegen.useIdInClassName") === "false")
    assert(c("spark.hadoop.fs.file.impl") ===
      classOf[graft.stream.FastLocalFileSystem].getName)
    assert(c("spark.sql.streaming.checkpointFileManagerClass") ===
      classOf[graft.stream.NioCheckpointFileManager].getName)
  }

  test("no main-source file but LocalSession.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val stream = Files.walk(root)
    val builders = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "LocalSession.scala")
      .filter { p =>
        val code = new String(Files.readAllBytes(p), "UTF-8")
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .split("\n").map(_.replaceAll("//.*", "")).mkString("\n")
        code.contains("SparkSession.builder")
      }.toList
    finally stream.close()
    assert(builders.isEmpty, s"session built outside LocalSession: ${builders.mkString(", ")}")
  }
}
