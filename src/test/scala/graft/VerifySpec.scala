package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Verify's dump loop: a failing query is named and does not stop the
  * others from being written.
  */
class VerifySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("dump writes the good query and names the one that throws") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    val queries = Map[String, Bench.QueryFn](
      "good" -> ((s, _) => s.range(3).select(lit(1).as("one"))),
      "bad" -> ((_, _) => throw new IllegalStateException("planned failure")))
    assert(Verify.dump(spark, queries, "/nonexistent", out) === Seq("bad"))
    assert(spark.read.parquet(s"$out/good").count() === 3)
    assert(!new java.io.File(s"$out/bad").exists())
  }
}
