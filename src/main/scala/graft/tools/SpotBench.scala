package graft.tools
import org.apache.spark.sql.SparkSession

/** Honest one-shot timing for individual queries, matching graft.Bench's
  * one-shot pass conditions: the BenchProfile tier for the sfDir (4-wide
  * interactive at sf0.1), the LocalFsPerf shims, a warmed session (q1 +
  * one throwaway streaming drain so codegen/parquet-footer/state-store
  * init isn't billed to the first named query), and a FRESH query-function
  * call per sample. Prints two samples per query: the first is the
  * bench-comparable one-shot, the second shows how much of it was
  * per-invocation vs per-plan-cache cost.
  */
object SpotBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    val profile = graft.BenchProfile.tier(
      try size(new java.io.File(dir)) catch { case _: Throwable => Long.MaxValue },
      32)
    val builder = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", profile.shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", profile.aqe.toString)
      .config("spark.shuffle.compress", profile.compress.toString)
      .config("spark.shuffle.spill.compress", profile.compress.toString)
      .config("spark.ui.enabled", "false")
    // GRAFT_NO_EXT=1 → vanilla session (A/B: custom operators vs fallbacks)
    if (!sys.env.contains("GRAFT_NO_EXT"))
      builder.withExtensions(new graft.expressions.GraftExtensions())
    graft.stream.LocalFsPerf.tune(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.drop(1)
    // warm-up: generic session init + streaming subsystem when needed
    spark.range(1000).selectExpr("sum(id)").collect()
    try graft.SparkEntry.queries("q1_pricing_summary")(spark, dir).count()
    catch { case _: Throwable => () }
    if (names.exists(_.startsWith("st")))
      try graft.SparkEntry.queries("st4_stream_windowed")(spark, dir).count()
      catch { case _: Throwable => () }
    names.foreach { n =>
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-26s one-shot ${ts(0)}%6.2f s   repeat ${ts(1)}%6.2f s")
    }
    spark.stop()
  }
}
