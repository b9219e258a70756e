package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine

/** What one workload run hands back from its measured phase: the main
  * op's throughput and latencies, and the latencies of the side op that
  * runs beside it.
  */
final case class Outcome(
    ops: Long,
    throughput: Double,
    mainMs: Seq[Double],
    sideMs: Seq[Double],
    /** The workload's own metrics, by the names users know them under. */
    named: Seq[(String, Double, String)],
    /** Per-layer values the workload derived itself (spans, progress). */
    layers: Map[String, Double] = Map.empty) {
  def mainP50: Double = if (mainMs.isEmpty) Double.NaN else Stats.median(mainMs)
  def sideP50: Double = if (sideMs.isEmpty) Double.NaN else Stats.median(sideMs)
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val work: String) {
  val engine = new Engine(spark)
  val ledger = new Ledger
  var tracer = new Tracer(false)
  /** Spark's channels, registered in the traced run only. */
  var channels: Option[Channels] = None
  def span[T](name: String, opId: Long = -1L)(body: => T): T = tracer.span(name, opId)(body)

  /** Wall seconds of running `df` into the `noop` sink (a lazy layer's
    * execution time, for the traced prefix timings).
    */
  def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall seconds of `reps` noop runs of each prefix. Each rep runs every
    * prefix in turn, so the prefixes of one rep ran under the same load.
    */
  def prefixRuns(reps: Int, prefixes: (String, () => DataFrame)*): Map[String, Seq[Double]] = {
    val runs = (1 to reps).map(_ => prefixes.map { case (n, df) =>
      n -> span(s"prefix.$n")(noopSeconds(df())) }.toMap)
    prefixes.map { case (n, _) => n -> runs.map(_(n)) }.toMap
  }

  /** Layer self times too small to tell from the spread between reps. */
  val unresolved = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Self time of a lazy layer from prefix runs ([[Stats.selfTime]] of
    * prefix `layer` over prefix `below`, or of `layer` alone). An
    * unresolved self time reads 0, like a layer that is not on the
    * workload's path, and is listed under `unresolved`.
    */
  def selfSeconds(metric: String, runs: Map[String, Seq[Double]], layer: String,
      below: Option[String]): (String, Double) =
    Stats.selfTime(runs(layer), below.fold(Seq.empty[Double])(runs)) match {
      case Right(self) => metric -> self
      case Left(why) => unresolved(metric) = why; metric -> 0.0
    }
}

trait Workload {
  def name: String
  /** Generate inputs under `dir` (repeated per run). */
  def setup(dir: String): Unit
  /** One full op on the inputs of the last `setup` (once per run; in the
    * traced run again after each re-setup when [[rewarm]]).
    */
  def warm(): Unit
  /** Whether a later `setup` needs `warm` again before `measure` (the
    * traced run sets up twice more in a warm JVM).
    */
  def rewarm: Boolean = true
  /** Properties of the generated inputs. */
  def inputs: Seq[(String, Any)]
  def measure(seconds: Double): Outcome
  /** Output checks against the generator's closed form. */
  def check(): Unit
  /** Traced run only: execution-time split of the lazy layers. */
  def layerTimings(): Map[String, Double]
  /** Extra facts recorded in the run stamp. */
  def stamp: Seq[(String, Any)] = Nil
}

object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "main_p50_ms" -> "ms",
    "side_p50_ms" -> "ms", "heap_retained_mb" -> "MB")

  val SetupReps = 3

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "batch" => new Batch(ctx)
    case "online" => new Online(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .withExtensions(new graft.expressions.GraftExtensions())
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def endToEnd(setup: Double, o: Outcome, heap: Double): Map[String, Double] = Map(
    "setup_s" -> setup, "throughput_per_s" -> o.throughput,
    "main_p50_ms" -> o.mainP50, "side_p50_ms" -> o.sideP50, "heap_retained_mb" -> heap)

  /** Heap in use after a full GC: the least of several, so garbage that a
    * background thread (Spark's cleaner, the listener bus) held at one GC
    * does not count.
    */
  def heapRetainedMb(): Double =
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(50)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gitCommit(): String = {
    val head = Paths.get(".git", "HEAD")
    try {
      val h = new String(Files.readAllBytes(head), "UTF-8").trim
      if (h.startsWith("ref: ")) new String(Files.readAllBytes(Paths.get(".git", h.drop(5))), "UTF-8").trim
      else h
    } catch { case _: java.io.IOException => "unknown (not a git checkout)" }
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
  }

  /** [[rmTree]] after the run: a file that a stopping Spark thread adds or
    * removes during the walk makes it retry, and what is still left after
    * three tries is reported, not thrown, so clean-up cannot fail a run
    * that has printed its result.
    */
  def cleanUp(dir: String): Unit = {
    def attempt(n: Int): Unit =
      try rmTree(dir) catch {
        case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          if (n < 3) { Thread.sleep(200); attempt(n + 1) }
          else System.err.println(s"[perfbench] could not remove $dir: $e")
      }
    attempt(1)
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val rc = try run(args) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e"); e.printStackTrace(); 1
    }
    System.exit(rc)
  }

  def run(args: Array[String]): Int = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val base = arg(args, "--work").getOrElse(".bench_build/work")
    val outDir = arg(args, "--out").getOrElse(".bench_build/results")
    val work = Paths.get(base, s"$name-$seed-${if (trace) 1 else 0}").toAbsolutePath.toString
    rmTree(work)
    Files.createDirectories(Paths.get(work))
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, seed, seconds, work)
    val wl = workload(name, ctx)
    try {
      // set up several times, each in a fresh directory; the last one stays
      // and gets the one full warm-up op
      val setupTimes = (1 to SetupReps).map { r =>
        val t0 = System.nanoTime()
        wl.setup(s"$work/setup$r")
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      wl.warm()
      val warmS = (System.nanoTime() - t0) / 1e9
      val setupS = sessionS + Stats.median(setupTimes) + warmS
      println(s"[perfbench] workload=$name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} nproc=$cpus")
      wl.inputs.foreach { case (k, v) => println(s"[perfbench] input $k = ${Json.render(v)}") }

      // a traced run measures a third of the time in each of its three
      // phases: untraced, traced, untraced
      val phase = if (trace) seconds / 3 else seconds
      val plain = wl.measure(phase)
      wl.check()
      val e2e = endToEnd(setupS, plain, heapRetainedMb())

      val layers: Map[String, Double] =
        if (!trace) Map.empty
        else traced(ctx, wl, phase, e2e, s"$work/setup-traced")

      val ledger = ctx.ledger
      plain.named.foreach { case (n, v, u) => println(f"[perfbench] $n%-22s $v%14.4f $u") }
      println(f"[perfbench] fail_ratio             ${ledger.failRatio}%14.4f ratio (${ledger.failed} of ${ledger.attempted})")
      ledger.failures.foreach(f => println(s"[perfbench] failure: $f"))
      ctx.unresolved.foreach { case (m, why) => println(s"[perfbench] unresolved $m: $why") }

      val stamp: Seq[(String, Any)] = Seq(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> cpus, "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "git_commit" -> gitCommit(), "session_start_s" -> sessionS,
        "setup_reps_s" -> setupTimes, "warm_s" -> warmS,
        "session_conf" -> spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.serializer") }
          .toSeq.sorted.toMap,
        "inputs" -> wl.inputs.toMap, "end_to_end" -> e2e,
        "named" -> plain.named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
        "main_samples" -> plain.mainMs.size, "side_samples" -> plain.sideMs.size,
        "main_ms" -> plain.mainMs, "side_ms" -> plain.sideMs,
        "fail_ratio" -> ledger.failRatio, "failures" -> ledger.failures.toList,
        "per_layer" -> layers, "unresolved_layers" -> ctx.unresolved.toMap) ++ wl.stamp
      Files.createDirectories(Paths.get(outDir))
      Files.write(Paths.get(outDir, s"$name-seed$seed-trace${if (trace) 1 else 0}.json"),
        Json.render(stamp.toMap).getBytes("UTF-8"))
      if (trace) writeTrace(ctx, Paths.get(outDir, s"trace-$name-seed$seed.json").toString)

      val metrics =
        if (trace) Main.PerLayer.map { case (n, u) => n -> (layers.getOrElse(n, 0.0), u) }
        else EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
      // a thrown op leaves an output unchecked, so it fails the run too
      val correct = ledger.failed == 0
      println(Json.render(Map(
        "correct" -> correct, "attempted" -> math.max(1L, ledger.attempted),
        "failed" -> ledger.failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, (v, u)) =>
          n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))))
      if (correct) 0 else 1
    } finally {
      spark.stop()
      cleanUp(work)
    }
  }

  /** The traced run: the workload set up and measured again with spans and
    * Spark's channels on, its lazy layers timed by prefix, then set up and
    * measured once more untraced. The trace overhead of each end-to-end
    * metric is the traced value minus the mean of the untraced phases
    * before and after it, so JIT warm-up over the run does not read as
    * tracing cost. Set-up has one untraced re-setup to compare with (the
    * first set-up starts the JVM); a re-setup includes the warm-up op only
    * when the workload needs it ([[Workload.rewarm]]). Returns every
    * per-layer metric this workload touches.
    */
  private def traced(ctx: Ctx, wl: Workload, seconds: Double,
      before: Map[String, Double], dir: String): Map[String, Double] = {
    def timedSetup(d: String): Double = {
      val t0 = System.nanoTime()
      ctx.span("setup")(wl.setup(d))
      if (wl.rewarm) ctx.span("warm")(wl.warm())
      (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(true)
    ctx.tracer = tracer
    val ch = new Channels(ctx.spark)
    ch.register()
    ctx.channels = Some(ch)
    val setupTraced = timedSetup(dir)
    val snap = ch.snapshot()
    val out = ctx.span("measure")(wl.measure(seconds))
    val d = Channels.delta(snap, ch.snapshot())
    ctx.span("check")(wl.check())
    val tracedE2e = endToEnd(setupTraced, out, heapRetainedMb())
    val timings = ctx.span("layer_timings")(wl.layerTimings())
    ch.unregister()
    ctx.tracer = new Tracer(false)

    val setupAfter = timedSetup(s"$dir-after")
    val after = wl.measure(seconds)
    wl.check()
    val afterE2e = endToEnd(setupAfter, after, heapRetainedMb())
    ctx.tracer = tracer

    val ops = math.max(1L, out.ops).toDouble
    val generic = Map(
      "spark.jobs_per_op" -> d("jobs") / ops,
      "spark.tasks_per_op" -> d("tasks") / ops,
      "spark.task_run_s" -> d("task_run_ms") / 1e3 / ops,
      "spark.task_cpu_s" -> d("task_cpu_ns") / 1e9 / ops,
      "spark.scheduler_delay_s" -> d("scheduler_delay_ms") / 1e3 / ops,
      "spark.shuffle_write_bytes" -> d("shuffle_write_bytes") / ops,
      "spark.spill_bytes" -> d("spill_bytes") / ops,
      "jvm.gc_s" -> d("gc_ms") / 1e3 / ops,
      "catalyst.analysis_ms" -> d("phase_analysis") / ops,
      "catalyst.optimization_ms" -> d("phase_optimization") / ops,
      "catalyst.planning_ms" -> d("phase_planning") / ops,
      "catalyst.codegen_ms" -> d("codegen_ms") / ops,
      "catalyst.actions_per_op" -> d("actions") / ops) ++
      EndToEnd.map { case (n, _) =>
        val untraced = if (n == "setup_s") afterE2e(n) else (before(n) + afterE2e(n)) / 2
        s"harness.trace_overhead.$n" -> (tracedE2e(n) - untraced)
      }
    generic ++ out.layers ++ timings
  }

  private def writeTrace(ctx: Ctx, path: String): Unit = {
    val spans = ctx.tracer.all
    val self = Tracer.selfNs(spans)
    val doc = Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.opId, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id))),
      "self_s_by_name" -> ctx.tracer.selfSecondsByName,
      "stream_progress" -> ctx.channels.toSeq.flatMap(_.progress.map(p => RawJson(p.json))))
    Files.write(Paths.get(path), Json.render(doc).getBytes("UTF-8"))
  }

  /** Per-layer metrics (traced run), in BENCHMARK.json order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.decode_task_s" -> "s", "sources.bytes_read" -> "bytes",
    "sources.files_ok" -> "count", "sources.files_quarantined" -> "count",
    "ingest.clean_self_s" -> "s", "ingest.rows_in" -> "count", "ingest.rows_kept" -> "count",
    "agg.floats_self_s" -> "s", "agg.profiles_self_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "vector.embed_self_s" -> "s", "vector.docs_embedded" -> "count",
    "vector.search_exec_ms" -> "ms", "vector.rows_scored_per_result" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.codegen_ms" -> "ms",
    "catalyst.actions_per_op" -> "count",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "jvm.gc_s" -> "s",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.state_commit_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.files_per_batch" -> "count",
    "stream.backlog_files" -> "count",
    "stream.manifest_resolve_ms" -> "ms", "stream.files_opened_per_read" -> "count",
    "stream.merge_ms" -> "ms", "stream.table_files" -> "count", "stream.table_bytes" -> "bytes",
    "stream.merge_files_touched" -> "count",
    "dedup.exact_self_s" -> "s", "dedup.lsh_self_s" -> "s", "dedup.verify_self_s" -> "s",
    "dedup.cc_self_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.verified_per_candidate" -> "ratio", "dedup.clusters" -> "count",
    "harness.gen_late_p95_ms" -> "ms") ++
    EndToEnd.map { case (n, u) => s"harness.trace_overhead.$n" -> u }
}

/** Already-rendered JSON, embedded as is. */
final case class RawJson(json: String) {
  override def toString: String = json
}
