package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val engine = new Engine(spark)
  val sf = "/root/testdata/sf0.001"

  test("search returns k ranked hits and respects the metadata filter") {
    val hits = engine.search(
      Tables.documents(spark, sf), "text", "doc_id",
      queryText = "fast table scan", k = 5,
      metadataFilter = col("lang") === "en")
    val rows = hits.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("lang") == "en"))
    val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("dedupExact keeps one row per content under the minimum id") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "x")).toDF("id", "text")
    val out = engine.dedupExact(df, "text", "id").orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("pack chunks a corpus losslessly; decontaminate flags n-gram overlap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "web"),
      (2L, "one two three four", "books"),
      (3L, "unrelated words entirely here now", "web")).toDF("doc_id", "text", "source")
    // pack: token conservation at a tiny chunk size
    val packed = engine.pack(docs, "doc_id", "text", chunkTokens = 4)
    val total = packed.agg(sum("chunk_tokens")).head().getLong(0)
    assert(total == 6 + 4 + 5)
    assert(packed.filter(col("doc_id") === 1L).count() == 2) // 6 tokens span 2 windows
    // decontaminate: eval doc shares the trigram "two three four" with doc 2
    // only; the corpus's other columns pass through
    val eval = Seq((100L, "zero two three four five")).toDF("doc_id", "text")
    val hits = engine.decontaminate(docs, eval, "doc_id", "text")
    assert(hits.columns.toSeq == Seq("doc_id", "source", "n_hit_shingles"))
    assert(hits.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((2L, "books", 1L))) // exactly one shared trigram: "two three four"
  }

  test("sampleMixture keeps rates 0 and 1 exactly and never resamples") {
    import spark.implicits._
    val df = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "keep_all" else "drop_all")).toDF("id", "src")
    val out = engine.sampleMixture(df, "id", "src",
      Map("keep_all" -> 1.0, "drop_all" -> 0.0))
    val kept = out.groupBy("src").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(kept == Map("keep_all" -> 100L))
    // determinism: a second evaluation selects the identical id set
    val a = out.select("id").collect().map(_.getLong(0)).toSet
    val b = engine.sampleMixture(df, "id", "src", Map("drop_all" -> 0.0))
      .filter(col("src") === "keep_all").select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("scd2History builds contiguous versioned ranges with one open row") {
    import spark.implicits._
    val log = Seq(
      (1L, 1L, 10L, "bronze"), (1L, 2L, 20L, "bronze"), // no-op change collapses
      (1L, 3L, 30L, "silver"), (1L, 4L, 40L, "gold"),
      (2L, 5L, 10L, "bronze")).toDF("k", "seq", "ts", "tier")
    val hist = engine.scd2History(log, "k", "ts", "tier", "seq")
      .orderBy("k", "version").collect()
    assert(hist.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1L, 1, "bronze"), (1L, 2, "silver"), (1L, 3, "gold"), (2L, 1, "bronze")))
    // ranges stitch and exactly the last version per key is open
    assert(hist.filter(_.getAs[Boolean]("is_current"))
      .map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 3), (2L, 1)))
    assert(hist(0).getAs[Long]("valid_to") == hist(1).getAs[Long]("valid_from"))
  }

  test("cdcApply keeps each key's last change and drops deleted keys") {
    import spark.implicits._
    val changes = Seq(
      (1L, 10L, 1L, "U", 5.0), (1L, 20L, 2L, "U", 7.0),   // final: 7.0
      (2L, 10L, 3L, "U", 1.0), (2L, 30L, 4L, "D", 0.0),   // deleted
      (3L, 10L, 5L, "D", 0.0), (3L, 10L, 6L, "U", 9.0))   // seq tie-break: alive
      .toDF("k", "ts", "seq", "op", "v")
    val fin = engine.cdcApply(changes, "k", "ts", "seq", "op")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(fin.toSeq == Seq((1L, 7.0), (3L, 9.0)))
  }

  test("groupSplit never lets a group straddle splits") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, s"grp${i % 37}")).toDF("id", "g")
    val out = engine.groupSplit(df, "g")
    val spanning = out.groupBy("g")
      .agg(countDistinct("split").as("n")).filter(col("n") > 1)
    assert(spanning.isEmpty)
    assert(out.select("split").distinct().count() > 1) // 37 groups spread out
  }

  test("curriculumSelect marks a best-first prefix that crosses the budget") {
    import spark.implicits._
    val docs = Seq((9L, 100L), (9L, 50L), (7L, 200L), (5L, 700L), (3L, 50L))
      .toDF("bin", "ntok")
    val out = engine.curriculumSelect(docs, col("bin"), col("ntok"), 0.5)
      .orderBy(col("score_bin").desc).collect()
    // total 1100, half 550: bin 9 (150) + bin 7 (200) selected, bin 5
    // crosses at cum_before 350 < 550 so it is included, bin 3 is not
    assert(out.map(r => (r.getLong(0), r.getAs[Boolean]("selected"))).toSeq ==
      Seq((9L, true), (7L, true), (5L, true), (3L, false)))
  }

  test("dedupIncremental classifies exact, near and new batch docs") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val index = Seq((1L, base), (2L, "completely different words here entirely"))
      .toDF("id", "text")
    val batch = Seq(
      (10L, base),                    // exact copy of 1
      (11L, base + " lambda"),        // near copy of 1 (jaccard 8/9? >= 0.5)
      (12L, "nothing shares any shingle with those docs at all"))
      .toDF("id", "text")
    val got = engine.dedupIncremental(batch, index, "id", "text")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((10L, "exact_dup"), (11L, "near_dup"), (12L, "new")))
  }

  test("sampleMixture is calibrated (64-bit lane, no modulo bias) and escapes names") {
    import spark.implicits._
    // A 2-hex-digit lane mod 100 keeps ~29.3% at a documented 25% rate;
    // the 64-bit lane must land within binomial noise of the target.
    val n = 40000
    val df = (0L until n.toLong).map((_, "web")).toDF("doc id", "src") // space in name
    val kept = engine.sampleMixture(df, "doc id", "src", Map("web" -> 0.25)).count()
    val frac = kept.toDouble / n
    assert(math.abs(frac - 0.25) < 0.01, s"keep fraction $frac drifted from 0.25")
  }

  test("zorderWrite lays files out with 2-D-tight bounding boxes") {
    import spark.implicits._
    val n = 32
    val grid = spark.range(n.toLong * n).select(
      (col("id") % n).as("x"), (col("id") / n).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zw").toString
    engine.zorderWrite(grid, col("x"), col("y"), s"$dir/out", files = 16)
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == n.toLong * n)
    assert(back.columns.toSeq.sorted == Seq("x", "y")) // helper column dropped
    // every file's bbox must span at most half of each axis — the 1-D sort
    // layout would span the FULL off-axis range in every file
    val boxes = back
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      .select("dx", "dy").as[(Long, Long)].collect()
    assert(boxes.nonEmpty)
    boxes.foreach { case (dx, dy) =>
      assert(dx <= n / 2 && dy <= n / 2, s"loose bbox: dx=$dx dy=$dy")
    }
  }

  test("nearDupCandidates surfaces injected duplicates") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dups = docs.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    val pairs = engine.nearDupCandidates(docs.unionByName(dups), "text", "doc_id")
      .collect()
    val injected = pairs.filter(r =>
      r.getAs[Long]("id_b") - r.getAs[Long]("id_a") == 100000L)
    assert(injected.nonEmpty, "exact copies must collide in every band")
  }

  test("qualityFilter annotates language and drops low-quality docs") {
    val out = engine.qualityFilter(Tables.documents(spark, sf), "text", minQuality = 0.1)
    assert(out.columns.contains("lang_pred") && out.columns.contains("quality"))
    assert(out.count() > 0)
    assert(out.agg(min("quality")).head().getDouble(0) >= 0.1)
  }

  test("ingest produces floats and profiles from raw level arrays") {
    val raw = Tables.events(spark, sf).limit(500).select(
      col("user_id").cast("string").as("float_id"),
      col("event_id").cast("string").as("profile_id"),
      col("ts").as("time"),
      expr("mod(value, 180) - 90").as("latitude"),
      expr("mod(value * 2, 360) - 180").as("longitude"),
      array(expr("mod(value, 45)")).as("temperature"),
      array(expr("mod(value, 50)")).as("salinity"),
      array(expr("mod(value, 6000)")).as("pressure"))
    val (floats, profiles) = engine.ingest(raw)
    assert(floats.count() > 0 && profiles.count() > 0)
    assert(floats.columns.contains("properties"))
    assert(profiles.columns.toSet.contains("variable_name"))
  }

  test("nearDupHamming's exact-dedup pre-pass bounds the candidate set on a cloned corpus") {
    import spark.implicits._
    val base = Tables.documents(spark, sf).select("doc_id", "text").limit(80)
    // clone every document 5x under fresh ids: identical content, the
    // degenerate hot-bucket case for signature LSH
    val cloned = (0 to 4).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 100000))).reduce(_ unionByName _)
    val withPrePass = engine.nearDupHamming(cloned, "text", "doc_id", maxDist = 8).count()
    val withoutPrePass = {
      val tc = cloned
        .select(col("doc_id"), explode(graft.dedup.Dedup.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      graft.dedup.Dedup.hammingPairs(
        graft.dedup.Dedup.simhashWide(tc, "doc_id"), "doc_id", "simhash",
        bands = 3, maxDist = 8).count()
    }
    // every clone pair is within distance 0 → quadratic blow-up without the
    // pre-pass; with it, pair count reflects only true near-dup diversity
    assert(withoutPrePass >= withPrePass * 5,
      s"pre-pass did not shrink the pair set: $withoutPrePass vs $withPrePass")
  }

  test("nearDupJaccard composes the pre-pass and verifies true near-dups only") {
    val base = Tables.documents(spark, sf).select("doc_id", "text").limit(80)
    val cloned = (0 to 4).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 100000))).reduce(_ unionByName _)
    // a genuine near-dup under a fresh id, appended to the clone soup
    val nd = base.limit(1)
      .withColumn("doc_id", col("doc_id") + 900000)
      .withColumn("text", concat(col("text"), lit(" tailword")))
    val pairs = engine.nearDupJaccard(cloned.unionByName(nd), "text", "doc_id")
      .collect()
    // clone pairs were removed by the pre-pass: no pair of ids with equal
    // content survives (equal content => jaccard 1.0 with n_inter == nsh)
    assert(!pairs.exists(r => r.getAs[Double]("jaccard") >= 0.9999),
      "exact clones leaked into the verified near-dup pairs")
    // the injected near-dup is found against the surviving representative
    assert(pairs.exists(r => r.getAs[Long]("id_b") % 900000 == r.getAs[Long]("id_a")),
      s"injected near-dup missed: ${pairs.mkString(", ")}")
  }

  test("embedPartitioned (batch-50, per-partition init) equals the per-row UDF path") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").limit(120)
    val viaUdf = docs
      .withColumn("emb", graft.vector.Embed.embed(col("text"), dim = 32))
      .select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val viaBatch = graft.vector.Embed.embedPartitioned(docs, "text", "emb", dim = 32, batchSize = 50)
      .select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(viaBatch.keySet == viaUdf.keySet)
    viaBatch.foreach { case (id, v) => assert(v == viaUdf(id), s"doc $id differs") }
  }

  test("e8_ivf_recall: one-cell IVF search keeps recall@5 above the pinned floor") {
    val rows = SparkEntry.queries("e8_ivf_recall")(spark, sf).collect()
    assert(rows.length == 20)
    val recall = rows.map(_.getAs[Long]("n_hits5")).sum.toDouble / (rows.length * 5)
    assert(recall >= 0.55, s"IVF recall@5 dropped to $recall")
  }

  test("exportReport assembles header, numbered sections (JSON pretty-printed), footer") {
    import spark.implicits._
    val docs = Seq(
      (1L, """{"a":1}"""),
      (2L, "plain text content")).toDF("id", "content")
    val out = engine.exportReport(docs, "id", "content", "test_collection")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out(0)._2.contains("DATA EXPORT - test_collection"))
    assert(out(0)._2.contains("Total Documents: 2"))
    // JSON content pretty-printed like the reference's json.dumps(indent=2)
    assert(out(1)._2.contains("{\n  \"a\": 1\n}"))
    // non-JSON falls back to raw text
    assert(out(2)._2.contains("plain text content"))
    assert(out(3)._2.contains("total_documents: 2"))
  }

  test("exportReport never windows the document contents onto one partition") {
    val docs = Tables.documents(spark, sf).select(
      col("doc_id").as("id"), col("text").as("content"))
    val plan = engine.exportReport(docs, "id", "content", "c")
      .queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan // unwrap: collect() does not descend into AQE
        case p => p
      }
    // the rank window exists, but everything below it is the narrow
    // distinct-id frame — the wide content column must only ever join
    // back ABOVE it
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 1, plan.toString.take(2000))
    val belowWindow = windows.head.collect {
      case n => n.output.map(_.name)
    }.flatten.toSet
    assert(!belowWindow.contains("content"),
      s"content column found below the numbering window: $belowWindow")
    assert(belowWindow.contains("id"))
  }

  test("embedCorpus equals the per-row embed over real documents") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").limit(60)
    val a = engine.embedCorpus(docs, "text", "emb", dim = 16)
      .select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = docs.withColumn("emb", graft.vector.Embed.embed(col("text"), 16))
      .select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b)
  }

  test("lineDedup strips shared lines, keeps rare ones, preserves order") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"unique body $i\nshared footer\n" +
        (if (i <= 2) "rare line\n" else "") + s"tail $i"))
      .toDF("id", "text")
    val out = engine.lineDedup(docs, "id", "text", maxDocFraction = 0.25)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))).toMap
    assert(out(5L) == ("unique body 5\ntail 5", 2L, 1L)) // footer (40/40 docs) dropped
    assert(out(1L) == ("unique body 1\nrare line\ntail 1", 3L, 1L)) // 2/40 kept, in order
  }

  test("spanDupStats counts union coverage once across overlapping spans") {
    import spark.implicits._
    val rep = (1 to 12).map(i => s"w$i").mkString(" ") // 12-token shared block
    val docs = Seq((1L, rep + " onlyone"), (2L, rep + " othertail"),
      (3L, "a b c d e f g h i j")).toDF("id", "text")
    val out = engine.spanDupStats(docs, "id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("covered_tokens"))).toMap
    // docs 1 and 2 share exactly the 5 spans inside the 12-token block;
    // their union covers the 12 block tokens ONCE, not 5*8
    assert(out(1L) == (5L, 12L) && out(2L) == (5L, 12L))
    assert(!out.contains(3L)) // clean doc: no dup spans
  }

  test("ppsSample draws k per stratum and favors heavy rows") {
    val docs = Tables.documents(spark, sf)
    val out = engine.ppsSample(docs, "doc_id", "n_chars", Seq("lang"), k = 10)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 10L), s"per-stratum k violated: $counts")
    // TopK's rank survives: 1..k within each stratum
    val ranks = out.groupBy("lang").agg(sort_array(collect_list("rank")).as("r"))
      .collect().map(_.getSeq[Int](1))
    assert(ranks.forall(_ == (1 to 10)), s"ranks are not 1..k per stratum: ${ranks.toSeq}")
    val sMean = out.agg(avg("n_chars")).head.getDouble(0)
    val cMean = docs.agg(avg("n_chars")).head.getDouble(0)
    assert(sMean > cMean)
  }

  test("chunkWithOverlap covers every token and respects the stride") {
    import spark.implicits._
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val all = engine.chunkWithOverlap(
      Seq((7L, text), (8L, "")).toDF("id", "text"), "id", "text",
      window = 32, stride = 24)
    // a doc without tokens is one empty chunk of 0 tokens
    assert(all.filter(col("id") === 8L).collect()
      .map(r => (r.getAs[String]("chunk_text"), r.getAs[Long]("chunk_tokens"))).toSeq ==
      Seq(("", 0L)))
    val out = all.filter(col("id") === 7L).orderBy("chunk_id").collect()
    assert(out.length == 4) // ceil((100-32)/24)+1
    assert(out.map(_.getAs[Long]("chunk_tokens")).toSeq == Seq(32L, 32L, 32L, 28L))
    val chunks = out.map(_.getAs[String]("chunk_text").split(" ").toSeq)
    assert(chunks.head.head == "t1" && chunks(1).head == "t25")
    assert(chunks.last.last == "t100") // final token reached
    assert(chunks.dropRight(1).forall(_.length == 32))
  }

  test("bm25TopK ranks the rare-term doc first and bounds k") {
    import spark.implicits._
    val docs = ((1L to 30L).map(i => (i, "common words filler text here")) :+
      (31L, "common rareterm filler text here")).toDF("id", "text")
    val out = engine.bm25TopK(docs, "id", "text",
      queries = Seq((0L, "rareterm"), (0L, "common")), k = 5).collect()
    assert(out.length == 5)
    val top = out.minBy(_.getAs[Int]("rank"))
    assert(top.getAs[Long]("id") == 31L, "rare-term doc must outrank common-only docs")
  }

  test("snapshotDiff classifies with presence markers, not value nulls") {
    import spark.implicits._
    val a = Seq((1L, Some(10), "x"), (2L, None: Option[Int], null), (3L, Some(30), "x"),
      (4L, Some(40), "x"), (6L, Some(60), "x")).toDF("k", "v", "w")
    val b = Seq((1L, Some(10), "x"), (2L, None: Option[Int], null), (3L, Some(31), "x"),
      (5L, Some(50), "x"), (6L, Some(60), "y")).toDF("k", "v", "w")
    val out = engine.snapshotDiff(a, b, "k", Seq("v", "w")).collect()
    val st = out.map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    // 2: all-null tuple is STILL unchanged; 6: only the second column moved
    assert(st == Map(1L -> "unchanged", 2L -> "unchanged", 3L -> "changed",
      4L -> "removed", 5L -> "added", 6L -> "changed"))
    val six = out.find(_.getLong(0) == 6L).get
    assert((six.getAs[String]("__a_w"), six.getAs[String]("__b_w")) == ("x", "y"))
    val four = out.find(_.getLong(0) == 4L).get
    assert(four.getAs[Integer]("__a_v") == 40 && four.isNullAt(four.fieldIndex("__b_v")))
  }

  test("constraintSuite counts null, dup, predicate and orphan violations") {
    import spark.implicits._
    val fact = Seq((1L, Some(10L), 5.0), (2L, Some(10L), -1.0),
      (2L, Some(99L), 3.0), (4L, None: Option[Long], 2.0))
      .toDF("id", "fk", "v")
    val dim = Seq(10L, 20L).toDF("pk")
    val checks = engine.constraintSuite(fact,
      notNullCols = Seq("fk"), uniqueCols = Seq("id"),
      predicates = Seq("range_v_pos" -> (col("v") > 0)),
      refIntegrity = Some(("fk", dim, "pk"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(checks == Map(
      "completeness_fk" -> (1L, false),   // one null fk
      "uniqueness_id" -> (1L, false),     // id=2 twice
      "range_v_pos" -> (1L, false),       // v=-1
      "ref_integrity_fk" -> (1L, false))) // fk=99 has no dim row
  }

  test("constraintSuite passes a clean table") {
    import spark.implicits._
    val fact = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    val out = engine.constraintSuite(fact, Seq("v"), Seq("id"),
      Seq("range_v_pos" -> (col("v") > 0))).collect()
    assert(out.length == 3 && out.forall(_.getBoolean(2)))
  }

  test("kAnonymize generalizes small QI groups per column type and flags them") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 30, 1.0), (2L, "a", 30, 2.0), (3L, "a", 30, 3.0),
      (4L, "b", 40, 4.0)).toDF("id", "city", "age", "score")
    val out = engine.kAnonymize(df, Seq("city", "age"), k = 2)
      .orderBy("id").collect()
    // group (a,30) has 3 >= k: released as-is; (b,40) has 1 < k: masked
    assert(out.take(3).forall(r => r.getAs[String]("city") == "a" &&
      r.getAs[Int]("age") == 30 && !r.getAs[Boolean]("suppressed")))
    val last = out(3)
    assert(last.getAs[String]("city") == "*" && last.getAs[Int]("age") == -1 &&
      last.getAs[Boolean]("suppressed"))
    assert(last.getAs[Double]("score") == 4.0) // non-QI columns untouched
    assert(out.map(_.getAs[Long]("qi_group_n")).toSeq == Seq(3L, 3L, 3L, 1L))
  }

  test("rrfFuse sums exact reciprocal-rank contributions across lanes") {
    import spark.implicits._
    val lex = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("q", "id", "rank")
    val sem = Seq((0L, 11L, 1L), (0L, 12L, 2L)).toDF("q", "id", "rank")
    val out = engine.rrfFuse(Seq(lex, sem), Seq("q"), "id", "rank", k = 10)
      .orderBy("rank").collect()
    // id 11 appears in both lanes (ranks 2 and 1): 10^9/62 + 10^9/61
    val s11 = 1000000000L / 62 + 1000000000L / 61
    assert(out.map(r => (r.getAs[Long]("id"), r.getAs[Long]("rrf_score"),
      r.getAs[Long]("n_lanes"))).toSeq == Seq(
      (11L, s11, 2L), (10L, 1000000000L / 61, 1L), (12L, 1000000000L / 62, 1L)))
    // each lane's own rank, NULL where the lane lacks the item
    assert(out.map(r => (Option(r.getAs[java.lang.Long]("rank_1")).map(_.longValue),
      Option(r.getAs[java.lang.Long]("rank_2")).map(_.longValue))).toSeq ==
      Seq((Some(2L), Some(1L)), (Some(1L), None), (None, Some(2L))))
  }

  test("ingestNetCdfTolerant skips what netCdfScanStatus quarantines") {
    val dir = java.nio.file.Files.createTempDirectory("graft-engine-nc").toString
    graft.sources.NetCdfFixture.writeFleet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/broken.nc"), "nope".getBytes("UTF-8"))
    // columns: file, ok, status, error, n_rows
    val status = engine.netCdfScanStatus(dir).collect()
    assert(status.count(!_.getBoolean(1)) === 1)
    val okRows = status.filter(_.getBoolean(1)).map(_.getLong(4)).sum
    assert(engine.ingestNetCdfTolerant(dir).count() === okRows)
  }

  test("cohortRetention buckets by first-seen week and rates in basis points") {
    import spark.implicits._
    val ts = (w: Int, d: Int) => // week w, day d within it (epoch-week grid)
      new java.sql.Timestamp((w * 604800L + d * 86400L) * 1000L)
    val ev = Seq(
      ("u1", ts(2800, 0)), ("u2", ts(2800, 1)), // cohort 2800, 2 users
      ("u1", ts(2801, 2)),                      // u1 returns in week +1
      ("u3", ts(2801, 0))                       // cohort 2801, 1 user
    ).toDF("user", "ts")
    val got = engine.cohortRetention(ev, "user", "ts")
      .orderBy("cohort_week", "offset_weeks").collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("offset_weeks"),
        r.getAs[Long]("n_users"), r.getAs[Long]("retention_bp"))).toSeq
    assert(got == Seq((2800L, 0L, 2L, 10000L), (2800L, 1L, 1L, 5000L),
      (2801L, 0L, 1L, 10000L)))
  }
  test("trainBpe + encodeBpeCounts: counts equal trained-table sizes, rows without words get 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low low low lower newest newest"),
      (2L, "newest newest newest newest widest widest widest"),
      (3L, ""),
      (4L, "lower widest")).toDF("id", "text")
    val rules = engine.trainBpe(docs, "text", merges = 4)
    assert(rules.size === 4)
    assert(rules.map(r => (r.a, r.b)) ===
      Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")))
    val enc = engine.encodeBpeCounts(docs, "text", rules)
    val byId = enc.select("id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    // low -> [low] 1; lower -> [low,e,r] 3; newest -> [n,e,w,est] 4;
    // widest -> [w,i,d,est] 4
    assert(byId(1L) === 5 * 1 + 1 * 3 + 2 * 4)
    assert(byId(2L) === 4 * 4 + 3 * 4)
    assert(byId(3L) === 0L)
    assert(byId(4L) === 3 + 4)
    assert(enc.count() === 4)
  }


  /** A self-written corpus for the dedup entry points: base texts, exact
    * clones (some cloned again), near-dups (a token appended or replaced),
    * clones of near-dups, and texts shorter than one 3-token shingle
    * (some identical). `doc_id % 3 == 0` is the batch side of the
    * batch/index split, so clones and near-dups land on both sides.
    */
  private lazy val pinCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20261019L)
    val words = (0 until 70).map(i => s"w$i")
    def text(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (1L to 120L).map(id => id -> text(10 + rnd.nextInt(12)))
    val clones = (121L to 170L).map(id => id -> base(rnd.nextInt(60))._2)
    val near = (171L to 220L).map { id =>
      val toks = base(rnd.nextInt(base.size))._2.split(' ')
      id -> (if (id % 2 == 0) (toks :+ "tailword").mkString(" ")
        else toks.updated(rnd.nextInt(toks.length), "swapped").mkString(" "))
    }
    val nearClones = (221L to 240L).map(id => id -> near(rnd.nextInt(near.size))._2)
    val short = (241L to 264L).map(id => id -> (if (id % 4 == 0) "w1 w2"
      else if (id % 4 == 1) "w3" else text(1 + rnd.nextInt(2))))
    base ++ clones ++ near ++ nearClones ++ short
  }

  /** MD5 over the sorted string forms of a frame's rows. */
  private def rowsMd5(df: org.apache.spark.sql.DataFrame): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(df.collect().map(_.toString).sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("dedup entry points' rows are pinned on a clone, near-dup and short-text corpus") {
    import spark.implicits._
    val docs = pinCorpus.toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val index = docs.filter(col("doc_id") % 3 =!= 0)
    val jac = engine.nearDupJaccard(docs, "text", "doc_id")
      .select("id_a", "id_b", "n_inter", "nsh_a", "nsh_b", "jaccard")
    val incr = engine.dedupIncremental(batch, index, "doc_id", "text")
    val cands = engine.nearDupCandidates(docs, "text", "doc_id")
    val statuses = incr.groupBy("status").count().as[(String, Long)].collect().toMap
    info(s"nearDupJaccard ${jac.count()} rows, dedupIncremental $statuses, " +
      s"nearDupCandidates ${cands.count()} rows")
    assert(statuses.keySet == Set("exact_dup", "near_dup", "new"))
    // pinned at the commit before the near-dup spine
    assert(Seq(rowsMd5(jac), rowsMd5(incr), rowsMd5(cands)) === Seq(
      "15d05468d7b45dabaed887731c0b3dfd", "2aea4b26b786c710652a4122b778bbb8",
      "aef230481188cf1a9e07a71fa2feed69"))
  }

  /** Spark jobs that `run` starts, counted over a drained listener bus. */
  private def jobsOf(run: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { run; org.apache.spark.TestBus.drain(sc) } finally sc.removeSparkListener(listener)
    n.get
  }

  test("dedup entry points stay inside their Spark-job budget") {
    // A job is a fixed cost the suite's large codegen cache does not hide:
    // every checkpoint, shuffle stage (AQE, the session default) and
    // broadcast build of an entry point starts one. Budgets are the counts
    // measured on this corpus (8 and 16 while signatures grouped exploded
    // shingle rows back per document, the verify counted (pair, shingle)
    // rows, and dedupIncremental aggregated a status union); exceeding one
    // means a checkpoint, shuffle or aggregate came back.
    import spark.implicits._
    val docs = pinCorpus.toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val index = docs.filter(col("doc_id") % 3 =!= 0)
    // connectedComponents over the verified pairs, checkpointed first so
    // only its own jobs count: 14 while every call ran distributed rounds;
    // a pair list this small is one counting job over the edge checkpoint
    // and one collect for the driver union-find. Asserted first: the
    // nearDupJaccard count below varies with AQE stage timing (6 or 7).
    val verified = engine.nearDupJaccard(docs, "text", "doc_id").select("id_a", "id_b")
      .localCheckpoint()
    val cc = jobsOf(graft.dedup.Dedup.connectedComponents(verified).collect())
    assert(cc <= 2, s"connectedComponents started $cc jobs")
    val jac = jobsOf(engine.nearDupJaccard(docs, "text", "doc_id").collect())
    val incr = jobsOf(engine.dedupIncremental(batch, index, "doc_id", "text").collect())
    info(s"nearDupJaccard $jac jobs, dedupIncremental $incr jobs, connectedComponents $cc jobs")
    assert(jac <= 6, s"nearDupJaccard started $jac jobs")
    assert(incr <= 9, s"dedupIncremental started $incr jobs")
  }
}
