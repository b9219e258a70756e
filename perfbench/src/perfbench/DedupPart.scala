package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Training-corpus dedup: quality filter, exact dedup, MinHash/LSH
  * near-duplicate pairs verified by exact Jaccard, connected components
  * over the verified pairs, then incremental admission of a fresh batch
  * against the filtered corpus. One op is one full pass.
  */
final class DedupPart(ctx: Ctx) extends Part {
  import Gen._
  val CorpusDocs = 2000
  val FreshDocs = 200
  val FreshFirstId = 1000000L
  val MinQuality = 0.5
  /** Jaccard at which verified pairs join a cluster. */
  val ClusterJaccard = 0.5
  /** Reps of each prefix plan in the traced run. */
  val PrefixReps = 3
  private val spark = ctx.spark
  private val engine = ctx.engine
  private val vocabulary = vocab(8000, ctx.seed)
  private val docs = dedupDocs(ctx.seed, CorpusDocs, 1L, vocabulary)
  private val fresh = dedupDocs(ctx.seed + 1, FreshDocs, FreshFirstId, vocabulary, pool = docs)
  private var dir = ""

  private final case class PassOut(kept: Set[Long], exact: Set[Long],
      pairs: Seq[(Long, Long, Long, Double)], cc: Map[Long, Long], incr: Map[Long, String])
  private var last: Option[PassOut] = None

  def inputs: Seq[(String, Any)] = Seq(
    "docs" -> CorpusDocs, "fresh_docs" -> FreshDocs,
    "exact_clone_share" -> docs.count(_.kind == "clone").toDouble / docs.size,
    "near_dup_share" -> docs.count(_.kind == "near").toDouble / docs.size,
    "short_share" -> docs.count(_.kind == "short").toDouble / docs.size,
    "fresh_by_kind" -> fresh.groupBy(_.kind).map { case (k, v) => k -> v.size },
    "mean_tokens" -> docs.map(_.text.split(' ').length).sum.toDouble / docs.size)

  /** Documents as JSON lines, written without Spark. */
  private def writeDocs(path: String, ds: Seq[Doc]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    ds.grouped(math.max(1, ds.size / 4)).zipWithIndex.foreach { case (part, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path, s"part-$i.json"),
        part.map(d => s"""{"doc_id":${d.id},"text":${Json.str(d.text)}}""").mkString("", "\n", "\n")
          .getBytes("UTF-8"))
    }
  }

  def setup(d: String): Unit = {
    dir = d
    writeDocs(s"$d/docs", docs)
    writeDocs(s"$d/fresh", fresh)
  }

  private val DocSchema = "doc_id long, text string"
  private def corpus = spark.read.schema(DocSchema).json(s"$dir/docs")
  private def kept = ctx.span("text.qualityFilter")(engine.qualityFilter(corpus, "text", MinQuality))

  def pass(op: Long): Unit = last = Some(run(op))

  private def run(op: Long): PassOut = {
    val k = kept
    val keptIds = ctx.span("dedup.quality", op)(k.select("doc_id").collect().map(_.getLong(0)).toSet)
    val exact = ctx.span("dedup.dedupExact", op)(
      engine.dedupExact(k, "text", "doc_id").select("doc_id").collect().map(_.getLong(0)).toSet)
    val pairsDf = ctx.span("dedup.nearDupJaccard", op)(
      engine.nearDupJaccard(k, "text", "doc_id").select("id_a", "id_b", "n_inter", "jaccard")
        .localCheckpoint())
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val cc = ctx.span("dedup.connectedComponents", op)(
      Dedup.connectedComponents(pairsDf.filter(col("jaccard") >= ClusterJaccard).select("id_a", "id_b"))
        .collect().map(r => r.getAs[Long]("member_id") -> r.getAs[Long]("group_id")).toMap)
    val incr = ctx.span("dedup.dedupIncremental", op)(
      engine.dedupIncremental(spark.read.schema(DocSchema).json(s"$dir/fresh"), k, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    PassOut(keptIds, exact, pairs, cc, incr)
  }

  private def shingles(text: String): Set[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  def check(): Unit = {
    val L = ctx.ledger
    val o = last.getOrElse { L.check("dedup.pass_ran", ok = false, "no pass completed"); return }
    val byId = docs.map(d => d.id -> d).toMap
    // quality: no stop words in the vocabulary, so the score is min(1, tokens / 100)
    val wantKept = docs.filter(d => math.min(1.0, d.text.split(' ').length / 100.0) >= MinQuality)
      .map(_.id).toSet
    L.check("dedup.quality_kept", o.kept == wantKept, s"${o.kept.size} kept, ${wantKept.size} expected")
    // exact: the minimum id of every md5 group
    val wantExact = docs.filter(d => wantKept(d.id)).groupBy(d => Expect.md5Hex(d.text))
      .values.map(_.map(_.id).min).toSet
    L.check("dedup.exact_groups", o.exact == wantExact,
      s"${o.exact.size} survivors, ${wantExact.size} md5 groups")
    // every verified pair's Jaccard, recomputed
    val sh = mutable.Map.empty[Long, Set[String]]
    def shOf(id: Long) = sh.getOrElseUpdate(id, shingles(byId(id).text))
    val badPairs = o.pairs.filterNot { case (a, b, n, j) =>
      val (x, y) = (shOf(a), shOf(b))
      val inter = (x intersect y).size
      inter == n && math.abs(j - inter.toDouble / (x.size + y.size - inter)) < 1e-12
    }
    L.check("dedup.jaccard_verified", badPairs.isEmpty,
      s"${badPairs.size} of ${o.pairs.size} pairs disagree, first ${badPairs.headOption}")
    // injected near-duplicates are recalled
    val found = o.pairs.map { case (a, b, _, _) => (math.min(a, b), math.max(a, b)) }.toSet
    val injected = docs.filter(d => d.kind == "near" && wantKept(d.id))
      .map(d => (math.min(d.id, d.src), math.max(d.id, d.src)))
    val recall = injected.count(found).toDouble / math.max(1, injected.size)
    recallSeen = recall
    L.check("dedup.near_recall", recall >= 0.9, f"recall $recall%.3f of ${injected.size} injected pairs")
    // clusters: union-find over the same pairs
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    o.pairs.filter(_._4 >= ClusterJaccard).foreach { case (a, b, _, _) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantCc = parent.keys.map(x => x -> parent.keys.filter(find(_) == find(x)).min).toMap
    L.check("dedup.components", o.cc == wantCc, s"${o.cc.size} members, ${wantCc.size} expected")
    // incremental admission: exact copies flagged, new documents admitted, near copies mostly flagged
    val wrong = fresh.filter { d =>
      val st = o.incr.get(d.id)
      val srcIndexed = d.src >= 0 && d.src < FreshFirstId && wantKept(d.src)
      d.kind match {
        case "clone" if srcIndexed => !st.contains("exact_dup")
        case "near" if srcIndexed => !st.exists(s => s == "near_dup" || s == "new")
        case _ => !st.contains("new")
      }
    }
    val nearFresh = fresh.filter(d => d.kind == "near" && d.src < FreshFirstId)
    val nearRecall = nearFresh.count(d => o.incr.get(d.id).contains("near_dup")).toDouble /
      math.max(1, nearFresh.size)
    L.check("dedup.incremental", wrong.isEmpty && o.incr.size == FreshDocs && nearRecall >= 0.9,
      f"${wrong.size} wrong statuses, ${o.incr.size} rows, near recall $nearRecall%.3f")
  }
  private var recallSeen = 0.0

  def stamp: Seq[(String, Any)] = Seq("near_dup_recall" -> recallSeen)

  /** The LSH candidate pairs inside the plan `Engine.nearDupJaccard`
    * builds: the input of the step that splits each (id_a, id_b) pair into
    * its two documents for verification. None when the plan has no such
    * step (the engine's dedup plan changed shape).
    */
  private def candidates(nearDup: DataFrame): Option[DataFrame] =
    org.apache.spark.sql.BenchPlan.subFrame(nearDup) {
      case g: Generate if g.generatorOutput.map(_.name) == Seq("doc_id") &&
          g.child.output.map(_.name) == Seq("id_a", "id_b") => g.child
    }

  def layerTimings(): Map[String, Double] = {
    // every rep calls the entry point again, so its lazy checkpoints are
    // computed afresh and not read back from an earlier rep's blocks
    def nearDup() = engine.nearDupJaccard(kept, "text", "doc_id")
    val found = candidates(nearDup())
    val pairs = nearDup().localCheckpoint()
    val t = ctx.prefixRuns(PrefixReps, Seq(
      "quality" -> (() => kept),
      "exact" -> (() => engine.dedupExact(kept, "text", "doc_id"))) ++
      found.map(_ => "lsh" -> (() => candidates(nearDup()).get)) ++ Seq(
      "verify" -> (() => nearDup()),
      "cc" -> (() => Dedup.connectedComponents(
        pairs.filter(col("jaccard") >= ClusterJaccard).select("id_a", "id_b")))): _*)
    val cands = found.map(_.count().toDouble)
    val verified = pairs.filter(col("jaccard") >= ClusterJaccard).count().toDouble
    if (found.isEmpty) Seq("dedup.lsh_self_s", "dedup.verify_self_s", "dedup.candidate_pairs")
      .foreach(ctx.unresolved(_) = "no candidate-pair step in the plan of Engine.nearDupJaccard")
    Map(
      ctx.selfSeconds("dedup.exact_self_s", t, "exact", Some("quality")),
      ctx.selfSeconds("dedup.cc_self_s", t, "cc", None),
      "dedup.verified_per_candidate" -> cands.map(c => verified / math.max(1.0, c)).getOrElse(0.0),
      "dedup.clusters" -> last.map(_.cc.values.toSet.size.toDouble).getOrElse(0.0)) ++
      found.toSeq.flatMap(_ => Seq(
        ctx.selfSeconds("dedup.lsh_self_s", t, "lsh", Some("exact")),
        ctx.selfSeconds("dedup.verify_self_s", t, "verify", Some("lsh")),
        "dedup.candidate_pairs" -> cands.get))
  }
}
