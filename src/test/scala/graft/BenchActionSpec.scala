package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import java.util.concurrent.atomic.AtomicInteger

/** Pins the round-18 bench timed-action fix: reps execute a CLONE of the
  * pre-planned count plan so Catalyst is paid once per query, not per rep —
  * but a clone, not the same plan object, because a SparkPlan memoizes its
  * shuffle dependencies and broadcast futures, and re-executing the same
  * instance would skip every map stage (cross-rep intermediate reuse, i.e.
  * the result-caching class the bench must never do). These tests prove the
  * cloned-plan action (a) recomputes the full stage graph every time and
  * (b) returns the same count as `df.count()`.
  */
class BenchActionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def stagesOf(body: => Unit): Int = {
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are delivered asynchronously; require a 1 s quiet
      // window (two consecutive stable 500 ms reads) before trusting the
      // count — a single-interval fixpoint undercounts on a busy bus
      var stable = 0
      var last = -1
      while (stable < 2) {
        Thread.sleep(500)
        val cur = stages.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** run `body` with AQE forced off, as the bench interactive/mid tiers
    * (the tiers that take the cloned-plan path) configure their sessions
    */
  private def withAqeOff[T](body: => T): T = {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }

  test("cloned-plan reps re-run the full stage graph (no shuffle/broadcast reuse)") {
    withAqeOff {
      // multi-exchange query: scan → shuffle agg → shuffle agg → final
      val df = SparkEntry.queries("a1_user_summary")(spark, sf)
      val cnt = df.groupBy().count()
      cnt.queryExecution.executedPlan // plan once, as Bench does
      val baseline = stagesOf { df.count() }
      assert(baseline >= 2, s"expected a multi-stage plan, saw $baseline")
      // rep 1 and rep 2 of the bench action: each must submit the same
      // number of stages as a from-scratch count — a same-instance re-run
      // would drop to the final stage only (memoized shuffleDependency)
      val rep1 = stagesOf { cnt.queryExecution.executedPlan.clone().executeCollect() }
      val rep2 = stagesOf { cnt.queryExecution.executedPlan.clone().executeCollect() }
      assert(rep1 == baseline, s"rep1 submitted $rep1 stages vs $baseline for count()")
      assert(rep2 == baseline, s"rep2 submitted $rep2 stages vs $baseline for count()")
    }
  }

  test("AQE roots must NOT take the cloned-plan path: clones share the stage cache") {
    // Under AQE (the bench's LARGE tier), an AdaptiveSparkPlanExec clone
    // shares its AdaptiveExecutionContext stage cache, so a second
    // execution REUSES the first's materialized shuffle stages — exactly
    // the cross-rep caching the bench must never do. This test documents
    // the hazard that forces Bench.timedAction's AQE fallback to count().
    val df = SparkEntry.queries("a1_user_summary")(spark, sf)
    val cnt = df.groupBy().count()
    val plan = cnt.queryExecution.executedPlan
    assert(plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec],
      "test session should plan an AQE root (Spark default)")
    val rep1 = stagesOf { plan.clone().executeCollect() }
    val rep2 = stagesOf { plan.clone().executeCollect() }
    assert(rep2 < rep1,
      s"expected AQE stage-cache reuse on rep2 (rep1=$rep1, rep2=$rep2); " +
        "if this ever re-runs fully, Bench.timedAction's AQE fallback can be revisited")
  }

  test("a query that fails to build or to run is excluded from the sweep and named") {
    val boom = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("rep boom"); id }
    val queries: Seq[(String, Bench.QueryFn)] = Seq(
      "build_fails" -> ((_, _) => throw new IllegalStateException("build boom")),
      "ok" -> ((s, _) => s.range(10).toDF("id")),
      "reps_fail" -> ((s, _) => s.range(10).toDF("id").where(boom(org.apache.spark.sql.functions.col("id")) > 0)))
    val swept = Bench.sweep(spark, sf, queries)
    assert(swept.best.keySet === Set("ok"))
    assert(swept.legacy.keySet === Set("ok"))
    assert(swept.failed === Seq("build_fails", "reps_fail"))
  }

  test("cloned-plan action computes the same count as df.count()") {
    withAqeOff {
      for (name <- Seq("a1_user_summary", "q5_local_supplier_volume", "w1_top_orders")) {
        val df = SparkEntry.queries(name)(spark, sf)
        val cnt = df.groupBy().count()
        val viaClone = cnt.queryExecution.executedPlan.clone()
          .executeCollect().head.getLong(0)
        assert(viaClone === df.count(), s"$name cloned-plan count diverged")
      }
    }
  }
}
