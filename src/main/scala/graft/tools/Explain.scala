package graft.tools

/** Plan inspection: prints `.explain("formatted")` for the named queries
  * (all of them by default) in the session graft.Bench would build for
  * `sfDir`. Usage: runMain graft.tools.Explain <sfDir> [names...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.LocalSession.forDir(sfDir)
    val names = if (args.length > 1) args.toSeq.drop(1) else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
