package graft.tools

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Prints per-query counts of shuffle and broadcast exchanges in the
  * physical plan — the raw material for the shuffle-budget gate in
  * PlanQualitySpec. Usage: runMain graft.tools.ExchangeAudit [names...]
  */
object ExchangeAudit {
  def countExchanges(plan: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
    var shuffles = 0
    var broadcasts = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => shuffles += 1
        case _: BroadcastExchangeExec => broadcasts += 1
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (shuffles, broadcasts)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.001"
    val spark = graft.LocalSession.forDir(sfDir)
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val (s, b) = countExchanges(
          graft.SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.executedPlan)
        println(f"[exchange] $n%-26s shuffles=$s broadcasts=$b")
      } catch { case e: Throwable =>
        println(s"[exchange] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
