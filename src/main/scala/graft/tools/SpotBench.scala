package graft.tools

/** Honest one-shot timing for individual queries, matching graft.Bench's
  * one-shot pass conditions: the LocalSession recipe at the BenchProfile
  * tier for the sfDir (4-wide interactive at sf0.1), a warmed session (q1 +
  * one throwaway streaming drain so codegen/parquet-footer/state-store
  * init isn't billed to the first named query), and a FRESH query-function
  * call per sample. Prints two samples per query: the first is the
  * bench-comparable one-shot, the second shows how much of it was
  * per-invocation vs per-plan-cache cost.
  *
  * Each sample writes the query's result to the `noop` sink, which reads
  * every output row and column. A `count()` lets Catalyst prune every
  * column: a plan ending in a left outer join onto a key-unique aggregate
  * (dd12) then drops the join and all the work behind it.
  */
object SpotBench {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.LocalSession.forDir(dir)
    val names = args.drop(1)
    // warm-up: generic session init + streaming subsystem when needed
    spark.range(1000).selectExpr("sum(id)").collect()
    def run(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    def warm(name: String): Unit =
      try run(name)
      catch { case t: Throwable =>
        System.err.println(s"[spotbench] warm-up $name failed: ${t.getClass.getName}: ${t.getMessage}")
      }
    warm("q1_pricing_summary")
    if (names.exists(_.startsWith("st"))) warm("st4_stream_windowed")
    names.foreach { n =>
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        run(n)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-26s one-shot ${ts(0)}%6.2f s   repeat ${ts(1)}%6.2f s")
    }
    spark.stop()
  }
}
