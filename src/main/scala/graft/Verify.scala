package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. A failed query does not stop
  * the dump, but every failure is named at the end and the exit code is 1.
  * The session is the one graft.Bench would build for the same input (its
  * BenchProfile tier), so the oracle checks the configuration the bench
  * measures.
  */
object Verify {
  /** Writes each query's result over `sfDir` to `outDir/<name>` as one
    * parquet file. A failed query does not stop the others: its name and
    * message go to stderr, and its name is returned. Returns the failed
    * names, sorted.
    */
  def dump(spark: SparkSession, queries: Map[String, Bench.QueryFn],
      sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.sorted
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated name filter for fast local iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = LocalSession.forDir(sfDir)
    val failed = dump(spark,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
