package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.text.Analysis
import graft.vector.{Embed, Knn}

/** Null/empty robustness across the operator surface — the inputs a 100 TB
  * crawl actually contains.
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("nullSafeFormat propagates NULL on any null argument (SQL printf semantics)") {
    // java.util.Formatter renders a null %f/%s argument as the literal
    // string "null"; every SQL formatter (incl. the DuckDB twins) yields
    // NULL. The round-12 allnull fuzz caught bare format_string in the
    // T1-T3 templates — this pins the shared guard.
    val df = Seq(
      (1L, Some(1.5), Some("a")),
      (2L, None: Option[Double], Some("a")),
      (3L, Some(1.5), None: Option[String]),
      (4L, None: Option[Double], None: Option[String]))
      .toDF("id", "x", "s")
      .withColumn("out",
        graft.text.Summaries.nullSafeFormat("%.2f-%s", col("x"), col("s")))
      .orderBy("id").collect().map(r => Option(r.getAs[String]("out")))
    assert(df.toSeq == Seq(Some("1.50-a"), None, None, None))
  }

  test("null and empty text flow through tokenize/shingle/fingerprint without errors") {
    val df = Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "one"))
      .toDF("id", "text")
      .withColumn("toks", Dedup.tokens(col("text")))
      .withColumn("sh", Dedup.shingles(col("toks"), 3))
      .withColumn("fp", Analysis.fingerprint(col("toks")))
      .withColumn("lang", Analysis.langId(col("toks")))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 4)
    // null text → null tokens; whitespace-only → empty token array
    assert(rows(0).isNullAt(rows(0).fieldIndex("toks")))
    assert(rows(2).getSeq[String](rows(2).fieldIndex("toks")).isEmpty)
    assert(rows(3).getSeq[String](rows(3).fieldIndex("sh")).isEmpty) // 1 token < 3-gram
    assert(rows(2).getAs[String]("lang") == "unknown")
  }

  test("embedder yields empty vector on null and zero vector on empty text") {
    val df = Seq((1L, null: String), (2L, ""), (3L, "word"))
      .toDF("id", "text")
      .withColumn("emb", Embed.embed(col("text"), 8))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getSeq[Float](rows(0).fieldIndex("emb")).isEmpty)
    assert(rows(1).getSeq[Float](rows(1).fieldIndex("emb")).forall(_ == 0.0f))
    assert(rows(2).getSeq[Float](rows(2).fieldIndex("emb")).exists(_ != 0.0f))
  }

  test("search over an empty candidate set returns no rows, not an error") {
    val engine = new Engine(spark)
    val out = engine.search(
      Tables.documents(spark, "/root/testdata/sf0.001").filter(lit(false)),
      "text", "doc_id", "anything", k = 3)
    assert(out.count() == 0)
  }

  test("cosine against a zero-norm embedding is null and sorts last") {
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 0.0)), (3L, Array(0.5, 0.5))
    ).toDF("id", "vec")
    val q = Seq(Tuple1(Array(1.0, 0.0))).toDF("qvec")
    val out = df.crossJoin(q)
      .withColumn("sim", Knn.cosine(col("vec"), col("qvec")))
      .orderBy(col("sim").desc_nulls_last, col("id"))
      .collect()
    assert(out.head.getLong(0) == 1L)
    assert(out.last.getLong(0) == 2L && out.last.isNullAt(out.last.fieldIndex("sim")))
  }

  test("connectedComponents and poolFeatures return empty on empty input") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.dedup.Dedup.connectedComponents(noPairs).count() == 0)
    val noMedia = graft.sources.Multimodal.fromDocuments(
      Tables.documents(spark, "/root/testdata/sf0.001").filter(lit(false)))
    assert(graft.sources.Multimodal.poolFeatures(noMedia).count() == 0)
  }

  test("building dd8_lsh_verified starts no Spark job of its own") {
    // plan-only callers (plan audits, explain tools, the oracle dump) must
    // get a lazy frame: construction may plan, never execute. AQE off, as
    // the bench tiers that construct it: AQE runs a checkpoint's shuffle
    // stages while planning it. Planning a lazy checkpoint still prepares
    // its plan, and Spark starts a broadcast build at preparation (the
    // semi join onto the digest representatives); those jobs carry a
    // "broadcast exchange" tag and are the only ones allowed here.
    // a small corpus with exact and near duplicates; dd8 reads only it
    val sf = QueryContext.scratchDir("dd8lazy")
    (0 until 200).map { id =>
      val words = (0 until 12).map(w => s"w${id % 40}x$w")
      (id.toLong, (if (id % 7 == 0) words :+ "tail" else words).mkString(" "))
    }.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$sf/documents.parquet")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tags = String.valueOf(e.properties.getProperty("spark.job.tags"))
        if (!tags.contains("broadcast exchange")) jobs.add(s"job ${e.jobId}: $tags")
      }
    }
    try {
      Tables.documents(spark, sf) // the memoized table read infers its schema in a job
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      SparkEntry.queries("dd8_lsh_verified")(spark, sf)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      assert(jobs.isEmpty, s"jobs started while building dd8_lsh_verified: $jobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("pack and decontaminate tolerate null/empty/whitespace documents") {
    val docs = Seq(
      (1L, null: String), (2L, ""), (3L, "   "),
      (4L, "alpha beta gamma delta"), (5L, "alpha beta gamma echo"))
      .toDF("doc_id", "text")
    val engine = new Engine(spark)
    // null/empty docs occupy no chunk; real tokens are all conserved
    val packed = engine.pack(docs, "doc_id", "text", chunkTokens = 4)
    assert(packed.select("doc_id").distinct().as[Long].collect().toSet == Set(4L, 5L))
    assert(packed.agg(sum("chunk_tokens")).head().getLong(0) == 8L)
    // a null-text eval set contaminates nothing; a real trigram match fires
    val emptyEval = Seq((9L, null: String)).toDF("doc_id", "text")
    assert(engine.decontaminate(docs, emptyEval, "doc_id", "text").count() == 0)
    val eval = Seq((9L, "alpha beta gamma")).toDF("doc_id", "text")
    val hits = engine.decontaminate(docs, eval, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(4L, 5L))
  }

  test("upsert family behaves on empty frames") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "value").limit(10)
    val empty = ev.filter(lit(false))
    assert(graft.operators.Upsert.skipExisting(ev, empty, "event_id").count() == 10)
    assert(graft.operators.Upsert.insertIfAbsent(empty, ev, "event_id").count() == 10)
    assert(graft.operators.Upsert.lastWriterWins(
      ev.withColumn("p", lit(1)), empty.withColumn("p", lit(2)),
      "event_id", "p", "event_id").count() == 10)
  }
}
