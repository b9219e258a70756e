package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Enforces SURVEY §9 decision 34 — "the exact-dedup rep tier is MANDATORY
  * in front of every LSH consumer whose output is per-document". The tier
  * lives once, in the near-dup spine (`Dedup.nearDupSpine`), which every
  * per-document consumer calls: the dd8 family, dd12 (through
  * `Engine.dedupIncremental`), dc2 and `Engine.nearDupJaccard`. Two gates
  * keep it that way:
  *   - a SOURCE gate: no main-source file but `dedup/Dedup.scala` calls
  *     `lshCandidatePairs` or `verifyJaccard`, so a consumer cannot rebuild
  *     the recipe around the tier;
  *   - a BEHAVIORAL gate: every consumer runs against a CLONE BOMB — a
  *     corpus of few distinct texts with many byte-identical copies each,
  *     the shape the sf10 rehearsal models at 100x — under a hard ceiling
  *     on total shuffle-read records. Plan introspection cannot see the
  *     tier (the spine checkpoints its segments, so returned plans are
  *     joins over opaque LogicalRDD leaves). With the tier, bucket members
  *     are bounded by DISTINCT contents and the run moves a few tens of
  *     thousands of rows; without it, every band bucket holds a c-clone
  *     clique, the i<j expansion emits ~c²/2 pairs per content per band,
  *     and the row-domain verify multiplies that by shingles/doc — millions
  *     of records, far past the ceiling. A future edit that drops the tier
  *     fails here in seconds instead of spilling 70 GB in the sf10 gate
  *     (dd8, round 10) or 94 s in the rehearsal (dc2, round 10).
  */
class LshContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // every per-document LSH consumer: the registered queries and the Engine
  // entry points on the spine (pair-list outputs like dd2/dd6 and
  // Engine.nearDupCandidates are exempt per decision 34: their result is
  // itself quadratic in clones)
  private val lshConsumers: Seq[(String, String => org.apache.spark.sql.DataFrame)] =
    Seq("dd8_lsh_verified", "dd9_dup_groups", "dd10_dedup_apply",
      "dd16_canonical_pick", "dd12_incremental_dedup", "dc2_neardup_decontam")
      .map(name => name -> ((dir: String) => SparkEntry.queries(name)(spark, dir))) ++ Seq(
      "Engine.nearDupJaccard" -> ((dir: String) => new Engine(spark)
        .nearDupJaccard(Tables.documents(spark, dir), "text", "doc_id")),
      "Engine.dedupIncremental" -> { (dir: String) =>
        val docs = Tables.documents(spark, dir)
        new Engine(spark).dedupIncremental(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      })

  // 25 distinct 10-token texts x 120 byte-identical copies each. Ids are
  // contiguous so the queries' own %N variant injections still fire.
  private lazy val cloneDir: String = {
    val dir = QueryContext.scratchDir("clonebomb")
    import spark.implicits._
    val nDistinct = 25
    val copies = 120
    (0 until nDistinct * copies).map { id =>
      val g = id % nDistinct
      val text = (0 until 10).map(w => s"token${g}w$w").mkString(" ")
      (id.toLong, text, "en", s"src${g % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("every registered LSH consumer stays shuffle-bounded on a clone-heavy corpus") {
    val dir = cloneDir
    var records = 0L
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        records += e.stageInfo.taskMetrics.shuffleReadMetrics.recordsRead
    }
    lshConsumers.foreach { case (name, build) =>
      spark.sparkContext.addSparkListener(listener)
      try {
        records = 0L
        build(dir).count()
        // listener events are async; a short drain keeps the tally complete
        Thread.sleep(300)
      } finally spark.sparkContext.removeSparkListener(listener)
      // Measured with the tier (round 11): 20k-60k records per query on
      // this 3,000-row corpus. Without the tier the in-bucket clique pairs
      // alone are 25 contents x 3 bands x C(120,2) ≈ 535k before the
      // verify's per-shingle amplification (x8) — two orders past the
      // ceiling. 300k holds a wide margin on both sides.
      info(s"$name: $records shuffle records")
      assert(records < 300000L,
        s"$name moved $records shuffle records on the clone-bomb corpus — " +
          "the exact-dedup rep tier (SURVEY §9 decision 34) appears to be " +
          "missing in front of its LSH candidate generation")
    }
  }

  test("no main-source file but dedup/Dedup.scala runs LSH candidates or the verify") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val spine = root.resolve("graft/dedup/Dedup.scala")
    val stream = Files.walk(root)
    val callers = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != spine)
      .filter { p =>
        val code = new String(Files.readAllBytes(p), "UTF-8")
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .split("\n").map(_.replaceAll("//.*", "")).mkString("\n")
        code.contains("lshCandidatePairs") || code.contains("verifyJaccard")
      }.toList
    finally stream.close()
    assert(callers.isEmpty,
      s"near-dup recipe rebuilt outside Dedup.nearDupSpine: ${callers.mkString(", ")}")
  }
}
