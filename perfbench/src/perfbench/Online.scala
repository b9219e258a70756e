package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
import org.apache.spark.sql.types.StructType

import graft.ingest.Pipeline

/** The online workload: upload to searchable, then a chat user reading the
  * result. Raw-profile Parquet uploads land in an inbox at a fixed rate
  * (open loop, one generator thread) while the benchmark loops:
  *
  *   - ingest: `Engine.ingestStreamTransactional` (RocksDB dedup, manifest
  *     commits) drains the inbox;
  *   - index: `Engine.readTable`, floats summary, `Engine.embedCorpus` of
  *     the summaries that changed, `Engine.mergeTable` into the collection.
  *
  * Freshness is the time from an upload's due time to the collection
  * commit that contains it. Backlog-drain bursts follow the open loop, then
  * the side op: a closed loop of `Engine.search` calls over
  * `Engine.readTableWhere` of the collection, each checked against a
  * brute-force cosine.
  */
final class Online(ctx: Ctx) extends Workload {
  import Gen._
  val name = "online"
  /** Uploads per second of the open-loop phase. */
  val Rate = 3.0
  val BaseFloats = 40
  val WarmUploads = 6
  val DrainUploads = 15
  val DrainBursts = 2
  val Searches = 24
  val Dim = 64
  /** Reps of each prefix plan in the traced run. */
  val PrefixReps = 5
  private val spark = ctx.spark
  private val engine = ctx.engine
  private val seed = ctx.seed
  private val schema: StructType = Encoders.product[RawProfile].schema
  private val collSchema = new StructType()
    .add("float_id", "string").add("doc", "string").add("embedding", "array<float>")
  private val queries = chatQueries(seed, 2000)

  private var plan: IndexedSeq[Upload] = IndexedSeq.empty
  private var scheduled = 0
  private var d = ""
  private def inbox = s"$d/inbox"
  private def table = s"$d/table"
  private def coll = s"$d/collection"
  private def ckpt = s"$d/checkpoint"
  private val staged = new ConcurrentHashMap[Int, String]()
  /** Upload id -> (due ns, landed ns). */
  private val landed = new ConcurrentHashMap[Int, (Long, Long)]()
  private val committed = mutable.Map.empty[Int, Long]
  private val consumed = mutable.Set.empty[Int]
  private val cycleStats = mutable.ArrayBuffer.empty[Map[String, Double]]
  /** The collection as the benchmark knows it: float id -> (doc, vector). */
  private val model = mutable.Map.empty[String, (String, Array[Float])]
  private val searchMs = mutable.ArrayBuffer.empty[Double]
  private var qi = 0
  private var checkedSearches = 0
  private var genLate: Seq[Double] = Nil

  def inputs: Seq[(String, Any)] = Seq(
    "base_floats" -> BaseFloats, "rate_per_s" -> Rate, "scheduled_uploads" -> scheduled,
    "drain_uploads" -> DrainUploads, "drain_bursts" -> DrainBursts, "staged_uploads" -> plan.size,
    "new_float_uploads" -> plan.count(u => u.cycles.head == 1),
    "resend_uploads" -> plan.count(_.resend.isDefined),
    "profiles" -> (BaseFloats * 2 + plan.map(_.cycles.size).sum),
    "searches" -> Searches, "query_texts" -> graft.vector.SemanticWorkload.Queries.size)

  private val UploadName = """u_(\d+)\.parquet""".r

  def setup(dir: String): Unit = {
    d = dir
    staged.clear(); landed.clear(); committed.clear(); consumed.clear(); cycleStats.clear()
    model.clear(); searchMs.clear(); qi = 0
    Files.createDirectories(Paths.get(inbox))
    import spark.implicits._
    // base floats, landed before the stream starts
    val base = for (f <- 0 until BaseFloats; c <- 1 to 2) yield rawProfile(seed, f, c)
    base.toDF().coalesce(2).write.parquet(s"$d/base")
    Files.list(Paths.get(s"$d/base")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).zipWithIndex
      .foreach { case (p, i) => Files.move(p, Paths.get(inbox, s"base_$i.parquet")) }
    // every upload is staged once; the generator later moves it into the inbox
    plan = Gen.uploads(seed, WarmUploads + math.ceil(ctx.seconds * Rate).toInt + DrainBursts * DrainUploads, BaseFloats)
    plan.flatMap(u => uploadRows(seed, u).map(r => (u.id, r))).toDF("upload_id", "r")
      .select(col("upload_id") +: schema.fieldNames.map(n => col(s"r.$n").as(n)).toIndexedSeq: _*)
      .repartition(col("upload_id"))
      .write.partitionBy("upload_id").parquet(s"$d/staging")
    plan.foreach { u =>
      val f = Files.list(Paths.get(s"$d/staging/upload_id=${u.id}")).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toList
      require(f.size == 1, s"upload ${u.id} staged as ${f.size} files")
      staged.put(u.id, f.head)
    }
  }

  /** Ingest and index the base floats and a few uploads; a few searches. */
  def warm(): Unit = {
    (0 until WarmUploads).foreach(land(_, System.nanoTime()))
    ctx.ledger.op("online.warmup") { cycle(); (1 to 4).foreach(_ => chatTurn(-1L)) }
    searchMs.clear()
  }

  private def land(u: Int, dueNs: Long): Unit = {
    Files.move(Paths.get(staged.get(u)), Paths.get(inbox, f"u_$u%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    landed.put(u, (dueNs, System.nanoTime()))
  }

  /** Upload ids the stream has consumed, from its source log. */
  private def consumedIds(): Set[Int] = {
    val log = Paths.get(ckpt, "sources", "0")
    if (!Files.isDirectory(log)) Set.empty
    else Files.list(log).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => UploadName.findFirstMatchIn(l).map(_.group(1).toInt)).toSet
  }

  /** Summarize every float, embed the summaries that changed, merge them
    * into the collection. Returns the merge result and the changed docs.
    */
  private def index(op: Long): (Option[(Int, Int)], Array[(String, String)]) = {
    val raw = ctx.span("stream.readTable", op)(engine.readTable(table, schema))
    val docs = ctx.span("text.summaries")(Docs.floatDoc(
      Pipeline.floats(Pipeline.clean(Pipeline.tidy(raw), "2100-01-01"))))
    val current = engine.readTable(coll, collSchema).select("float_id", "doc")
    val delta = docs.join(current, Seq("float_id", "doc"), "left_anti")
    val embedded = ctx.span("vector.embedCorpus")(engine.embedCorpus(delta, "doc")).localCheckpoint()
    val changed = embedded.select("float_id", "doc").collect().map(r => (r.getString(0), r.getString(1)))
    (ctx.span("stream.mergeTable", op)(engine.mergeTable(coll, collSchema, embedded, Seq("float_id"))),
      changed)
  }

  /** One ingest + index round. */
  private def cycle(op: Long = -1L): Unit = {
    val backlog = landed.size - consumed.size
    val t0 = System.nanoTime()
    ctx.span("stream.ingestStreamTransactional", op)(
      engine.ingestStreamTransactional(inbox, schema, table, ckpt, "profile_key")).awaitTermination()
    val t1 = System.nanoTime()
    val (merged, changed) = index(op)
    val t2 = System.nanoTime()
    val now = consumedIds()
    val fresh = now -- consumed
    consumed ++= now
    fresh.foreach(u => committed.getOrElseUpdate(u, t2))
    changed.foreach { case (f, doc) => model(f) = (doc, Expect.embed(doc, Dim)) }
    cycleStats += Map("backlog" -> backlog.toDouble, "files" -> fresh.size.toDouble,
      "ingest_ms" -> (t1 - t0) / 1e6, "index_ms" -> (t2 - t1) / 1e6,
      "touched" -> merged.map(_._1.toDouble).getOrElse(Double.NaN),
      "embedded" -> changed.length.toDouble)
    ctx.ledger.check("online.merge_published", merged.isDefined, "mergeTable lost every publish race")
  }

  /** The chat user's turn: even turns search an uploaded float's own
    * summary, which must come back first; odd turns search a text of the
    * semantic workload, half of them restricted to the newer floats.
    */
  private def chatTurn(op: Long): Unit = {
    val q = queries(qi % queries.size); qi += 1
    if (qi % 2 == 0) {
      val floats = model.keys.toIndexedSeq.sorted
      val f = floats(floats.size - 1 - (qi / 2) % math.min(floats.size, 20))
      timedSearch(model(f)._1, q.k, None, op, mustFirst = Some(f))
    } else
      timedSearch(q.text, q.k, if (q.recentOnly) Some((4900000L + BaseFloats).toString) else None, op, None)
  }

  private def timedSearch(text: String, k: Int, lo: Option[String], op: Long,
      mustFirst: Option[String]): Unit =
    ctx.ledger.op("online.search")(ctx.span("search", op)(search(text, k, lo, op))).foreach {
      case (got, s) =>
        searchMs += s * 1000
        checkSearch(text, k, lo, got, mustFirst)
    }

  private def search(text: String, k: Int, lo: Option[String], op: Long): Array[(String, Double)] = {
    val fs: Seq[Filter] = lo.map(v => GreaterThanOrEqual("float_id", v)).toSeq
    val docs = ctx.span("stream.readTableWhere", op)(engine.readTableWhere(coll, collSchema, fs))
    ctx.span("vector.search", op)(engine.search(docs, "doc", "float_id", text, k,
        lo.map(col("float_id") >= _).getOrElse(lit(true)), Dim))
      .select("float_id", "sim").collect().map(r => (r.getString(0), r.getDouble(1)))
  }

  /** Top-k against a brute-force cosine over the same collection snapshot. */
  private def checkSearch(text: String, k: Int, lo: Option[String],
      got: Array[(String, Double)], mustFirst: Option[String]): Unit = {
    val qv = Expect.embed(text, Dim)
    val cands = model.iterator.filter { case (f, _) => lo.forall(f >= _) }
      .map { case (f, (_, v)) => (f, Expect.cosine(qv, v)) }.filterNot(_._2.isNaN).toArray
      .sortBy { case (f, s) => (-s, f) }
    val want = cands.take(k)
    val simOf = cands.toMap
    val ok = got.length == want.length &&
      got.zip(want).forall { case ((_, gs), (_, ws)) => math.abs(gs - ws) <= 2e-6 } &&
      got.forall { case (f, gs) => simOf.get(f).exists(s => math.abs(s - gs) <= 2e-6) } &&
      mustFirst.forall(f => got.headOption.exists(_._1 == f))
    checkedSearches += 1
    ctx.ledger.check("online.search_topk", ok,
      s"'$text' k=$k lo=$lo first=$mustFirst: got ${got.toList} want ${want.toList}")
  }

  private def runCycle(op: Long): Unit =
    ctx.ledger.op("online.cycle")(ctx.span("op", op)(cycle(op)))

  def measure(seconds: Double): Outcome = {
    searchMs.clear()
    val first = plan.indexWhere(u => !landed.containsKey(u.id))
    scheduled = math.max(1, (seconds * Rate).round.toInt)
    val ids = (first until first + scheduled).map(plan(_).id)
    val start = System.nanoTime() + 50000000L
    val due = ids.zipWithIndex.map { case (u, i) => u -> (start + (i / Rate * 1e9).toLong) }
    val gen = new Thread(() =>
      due.foreach { case (u, t) =>
        val wait = t - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(u, t)
      }, "perfbench-uploads")
    gen.setDaemon(true)
    gen.start()
    var op = 0L
    val cycles0 = cycleStats.size
    while (gen.isAlive || ids.exists(u => !committed.contains(u))) {
      op += 1
      runCycle(op)
      if ((System.nanoTime() - start) / 1e9 > seconds + 60) sys.error("upload stream did not drain")
    }
    gen.join()
    val fresh = ids.flatMap(u => committed.get(u).map(c => (c - landed.get(u)._1) / 1e6))
    val late = ids.map(u => (landed.get(u)._2 - landed.get(u)._1) / 1e6)
    val openCycles = cycleStats.drop(cycles0).toSeq

    // backlog drain: bursts of uploads at once, each timed until committed
    val rates = (0 until DrainBursts).map { b =>
      val burst = plan.drop(first + scheduled + b * DrainUploads).take(DrainUploads).map(_.id)
      val t0 = System.nanoTime()
      burst.foreach(land(_, t0))
      var drainOps = 0
      while (burst.exists(u => !committed.contains(u)) && drainOps < 20) {
        op += 1; drainOps += 1
        runCycle(op)
      }
      if (burst.forall(committed.contains)) burst.size / ((System.nanoTime() - t0) / 1e9) else Double.NaN
    }
    ctx.ledger.check("online.drain_committed", !rates.exists(_.isNaN), s"drain rates $rates")
    val drainRate = Stats.median(rates)

    // the chat user, closed loop, on the drained collection
    (1 to Searches).foreach { _ => op += 1; chatTurn(op) }
    val searches = searchMs.toList
    val lateP95 = Stats.percentile(late, 95)
    genLate = late
    def med(k: String) = {
      val xs = openCycles.map(_(k)).filterNot(_.isNaN)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def tail(xs: Seq[Double], want: Double) = {
      val p = Stats.tailPercentile(xs.size, want)
      (Stats.percentile(xs, p), p)
    }
    val (f90, f90p) = tail(fresh, 90)
    val (s95, s95p) = tail(searches, 95)
    Outcome(op, drainRate, fresh, searches,
      Seq(("fresh_p50_s", Stats.median(fresh) / 1e3, "s"),
        (f"fresh_p${f90p}%.1f_s", f90 / 1e3, "s"),
        ("drain_files_per_s", drainRate, "files/s"),
        ("search_p50_ms", Stats.median(searches), "ms"),
        (f"search_p${s95p}%.1f_ms", s95, "ms"),
        ("uploads_measured", fresh.size.toDouble, "count"),
        ("searches", searches.size.toDouble, "count"),
        ("cycles", openCycles.size.toDouble, "count"),
        ("gen_late_p95_ms", lateP95, "ms")),
      Map("harness.gen_late_p95_ms" -> lateP95,
        "stream.files_per_batch" -> med("files"),
        "stream.backlog_files" -> med("backlog"),
        "stream.merge_files_touched" -> med("touched"),
        "vector.docs_embedded" -> openCycles.map(_("embedded")).sum))
  }

  /** Median duration of the spans called `n` (0 when untraced). */
  private def spanMedian(n: String): Double = {
    val xs = ctx.tracer.all.filter(_.name == n).map(_.durNs / 1e6)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  override def stamp: Seq[(String, Any)] = Seq(
    "generator_late_ms_p50" -> (if (genLate.isEmpty) 0.0 else Stats.median(genLate)),
    "generator_late_ms_max" -> (if (genLate.isEmpty) 0.0 else genLate.max),
    "generator_fell_behind" -> (genLate.nonEmpty && Stats.percentile(genLate, 95) > 100.0))

  def check(): Unit = {
    val L = ctx.ledger
    val sent = landed.keySet.asScala.toSet
    val expectedKeys: Map[String, Int] =
      ((for (f <- 0 until BaseFloats; c <- 1 to 2) yield rawProfile(seed, f, c)) ++
        plan.filter(u => sent.contains(u.id)).flatMap(u => u.cycles.map(rawProfile(seed, u.floatNo, _))))
        .map(r => r.profile_key -> r.temperature.size).toMap
    val rows = engine.readTable(table, schema).select(col("profile_key"), size(col("temperature")))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val counts = rows.groupBy(_._1).map { case (k, v) => k -> v.length }
    val dup = counts.filter(_._2 != 1)
    val missing = expectedKeys.keySet -- counts.keySet
    val extra = counts.keySet -- expectedKeys.keySet
    val wrongLen = rows.filter { case (k, n) => expectedKeys.get(k).exists(_ != n) }
    L.check("online.rows_exactly_once", dup.isEmpty && missing.isEmpty && extra.isEmpty && wrongLen.isEmpty,
      s"${dup.size} duplicated, ${missing.size} missing, ${extra.size} unexpected, ${wrongLen.length} wrong length")

    // every float has one document counting all its levels, embedded by the featurizer's contract
    val levels = expectedKeys.toSeq.groupBy(_._1.split('-').head).map { case (f, v) => f -> v.map(_._2).sum }
    val docs = engine.readTable(coll, collSchema).collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray))
    val badDoc = docs.filterNot { case (f, doc, vec) =>
      levels.get(f).exists(n => doc.endsWith(s", $n measurements).")) &&
        model.get(f).exists(_._1 == doc) && java.util.Arrays.equals(vec, Expect.embed(doc, Dim))
    }
    L.check("online.collection_docs", docs.length == levels.size && badDoc.isEmpty,
      s"${docs.length} docs for ${levels.size} floats; ${badDoc.length} wrong, first ${badDoc.headOption.map(_._2)}")

    // each uploaded float's summary finds that float first (brute force, every float)
    val uploaded = plan.filter(u => sent.contains(u.id)).map(u => (4900000L + u.floatNo).toString).distinct
    val notFirst = uploaded.filterNot { f =>
      val q = Expect.embed(model.get(f).map(_._1).getOrElse(""), Dim)
      model.iterator.map { case (g, (_, v)) => (g, Expect.cosine(q, v)) }.toSeq
        .sortBy { case (g, s) => (-s, g) }.headOption.exists(_._1 == f)
    }
    L.check("online.rank1_all_floats", notFirst.isEmpty,
      s"${notFirst.size} floats not at rank 1: ${notFirst.take(3)}")
    L.check("online.searches_checked", checkedSearches > 0, "no search was checked")
  }

  def layerTimings(): Map[String, Double] = {
    val ch = ctx.channels.get
    val progress = ch.progress.toList
    def dur(k: String) = {
      val xs = progress.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue()))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val stateCommit = progress.flatMap(_.stateOperators.headOption.map(_.commitTimeMs.toDouble))
    val stateRows = progress.flatMap(_.stateOperators.headOption.map(_.numRowsTotal.toDouble))
    // search execution split: a few searches with the channels' deltas around them
    val qs = (0 until 10).map(i => queries((qi + i) % queries.size))
    val before = ch.snapshot()
    val rowsBefore = ch.scanRows.size
    val results = qs.map(q => search(q.text, q.k, None, -1L).length).sum
    val dq = Channels.delta(before, ch.snapshot())
    val scanned = ch.scanRows.drop(rowsBefore).sum
    val exec = dq("action_ms") - dq("phase_analysis") - dq("phase_optimization") - dq("phase_planning")
    val raw = () => engine.readTable(table, schema)
    val tidy = () => Pipeline.tidy(raw())
    val clean = () => Pipeline.clean(tidy(), "2100-01-01")
    val floats = () => Pipeline.floats(clean())
    val docs = () => Docs.floatDoc(floats())
    val t = ctx.prefixRuns(PrefixReps, "tidy" -> tidy, "clean" -> clean, "floats" -> floats,
      "docs" -> docs, "embed" -> (() => engine.embedCorpus(docs(), "doc")))
    val m = graft.stream.ManifestTable.latest(coll).get
    Map(
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.state_commit_ms" -> (if (stateCommit.isEmpty) 0.0 else Stats.median(stateCommit)),
      "stream.state_rows" -> stateRows.lastOption.getOrElse(0.0),
      "stream.manifest_resolve_ms" -> spanMedian("stream.readTableWhere"),
      "stream.merge_ms" -> spanMedian("stream.mergeTable"),
      "stream.files_opened_per_read" -> engine.readTableWhere(coll, collSchema, Nil).inputFiles.length.toDouble,
      "stream.table_files" -> m.files.size.toDouble,
      "stream.table_bytes" -> m.files.map(f => Files.size(Paths.get(coll, f)).toDouble).sum,
      "vector.search_exec_ms" -> exec / qs.size,
      "vector.rows_scored_per_result" -> scanned.toDouble / math.max(1, results),
      ctx.selfSeconds("ingest.clean_self_s", t, "clean", Some("tidy")),
      "ingest.rows_in" -> tidy().count().toDouble,
      "ingest.rows_kept" -> clean().count().toDouble,
      ctx.selfSeconds("agg.floats_self_s", t, "floats", Some("clean")),
      ctx.selfSeconds("vector.embed_self_s", t, "embed", Some("docs")))
  }
}
