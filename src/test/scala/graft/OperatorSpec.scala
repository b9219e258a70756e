package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.text.Analysis
import graft.vector.{Embed, Knn}

class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Embed is deterministic, unit-norm, fixed-dim") {
    val a = Embed.embedTokens(Seq("hello", "world", "hello"), 384)
    val b = Embed.embedTokens(Seq("hello", "world", "hello"), 384)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 384)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    // repeated token weighs more: its bucket dominates
    val hb = (Embed.fnv1a("hello") & 0x7fffffff) % 384
    assert(a(hb) > 0.8f)
  }

  test("Embed column form matches direct computation") {
    val df = Seq(("a b a", 1)).toDF("text", "id")
      .withColumn("emb", Embed.embed(col("text"), 8))
    val got = df.select("emb").as[Array[Float]].head().toSeq
    assert(got == Embed.embedTokens(Seq("a", "b", "a"), 8).toSeq)
  }

  test("native DotProduct matches the aggregate/zip_with composition bit-for-bit") {
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("vec", col("embedding").cast("array<double>")).orderBy("vec_id")
    val pairs = df.select(col("vec").as("a")).limit(50)
      .crossJoin(df.select(col("vec").as("b")).limit(7))
    // both forms in ONE plan so the same rows feed both expressions
    val rows = pairs.select(
      graft.expressions.VectorExpressions.dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
        .as("builtin"))
      .as[(Double, Double)].collect()
    assert(rows.nonEmpty && rows.forall { case (n, b) => n == b })
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 2.0))
    ).toDF("a", "b").withColumn("c", round(Knn.cosine(col("a"), col("b")), 6))
    assert(df.select("c").as[Double].collect().toSeq == Seq(1.0, 0.0))
  }

  test("cosine is null on zero-norm input") {
    val df = Seq((Array(0.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .withColumn("c", Knn.cosine(col("a"), col("b")))
    assert(df.select("c").collect().head.isNullAt(0))
  }

  test("shingles produces n-grams and handles short docs") {
    val df = Seq("a b c d", "a b").toDF("text")
      .withColumn("sh", Dedup.shingles(Dedup.tokens(col("text")), 3))
    val rows = df.select("sh").as[Seq[String]].collect()
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty)
  }

  test("exact dedup groups copies under the minimum id") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("doc_id", "text")
    val g = Dedup.exactDupGroups(df, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(g.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSeq ==
      Seq((1L, 2L), (2L, 1L)))
  }

  test("simhash16 is stable and within 16 bits") {
    val tc = Seq((1L, "alpha", 2L), (1L, "beta", 1L), (2L, "alpha", 2L), (2L, "beta", 1L))
      .toDF("doc_id", "token", "cnt")
    val out = Dedup.simhash16(tc, "doc_id").collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash16")).toMap
    assert(byDoc(1L) == byDoc(2L)) // same token distribution → same hash
    assert(byDoc(1L) >= 0 && byDoc(1L) < (1 << 16))
  }

  test("jaccard matches hand computation") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .withColumn("j", round(Dedup.jaccard(col("x"), col("y")), 6))
    assert(df.select("j").as[Double].head() == 0.5)
  }

  test("isFinite guards nulls, NaN and infinities (F12)") {
    val df = Seq(Some(1.5), None, Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity))
      .toDF("x").select(graft.functions.Scalars.isFinite(col("x")).as("ok"))
    assert(df.as[Boolean].collect().toSeq == Seq(true, false, false, false, false))
  }

  test("poolFeatures cells partition the decoded content exactly") {
    import graft.sources.Multimodal
    val media = Multimodal.fromDocuments(
      Tables.documents(spark, "/root/testdata/sf0.001").limit(30))
    val cells = Multimodal.poolFeatures(media)
      .groupBy("media_id", "kind")
      .agg(sum("n").as("n_total"), sum("sum_v").as("v_total"),
        count(lit(1)).as("n_cells"))
      .collect()
    assert(cells.nonEmpty)
    cells.foreach { r =>
      val id = r.getLong(0)
      r.getString(1) match {
        case "image" =>
          // every pixel lands in exactly one thumbnail cell
          assert(r.getLong(2) ==
            Multimodal.imgWidth(id).toLong * Multimodal.imgHeight(id))
          assert(r.getLong(4) == 8L) // 4x2 grid, all non-empty at these dims
        case "audio" =>
          assert(r.getLong(2) == Multimodal.wavFrames(id).toLong)
          assert(r.getLong(4) == 4L)
        case "video" =>
          // every mdat sample byte lands in exactly one temporal window
          assert(r.getLong(2) == Multimodal.mdatLen(id).toLong)
          assert(r.getLong(3) ==
            (0 until Multimodal.mdatLen(id)).map(Multimodal.mdatByte(id, _).toLong).sum)
          assert(r.getLong(4) == 4L)
        case other => fail(s"unexpected pooled kind $other")
      }
    }
  }

  test("poolFeatures windowed fold matches the per-sample reference split") {
    // Round-19: the audio/video temporal fold loops over window RANGES
    // (lo = ceil(w*total/W)) instead of computing i*W/total per sample.
    // Pin value-equality of every (window, n, sum) against the naive
    // per-sample reference — the exact split matters downstream (mm4's
    // fingerprint is the PARITY of each window's sum).
    import graft.sources.Multimodal
    val media = Multimodal.fromDocuments(
      Tables.documents(spark, "/root/testdata/sf0.001").limit(60))
      .filter(col("kind").isin("audio", "video"))
    for (w <- Seq(4, 16)) {
      val got = Multimodal.poolFeatures(media, audioWindows = w)
        .select("media_id", "kind", "cell_x", "n", "sum_v")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4))).toMap
      val rows = media.select("media_id", "kind", "payload").collect()
      assert(rows.nonEmpty && got.nonEmpty)
      rows.foreach { r =>
        val id = r.getLong(0); val kind = r.getString(1)
        val payload = r.get(2).asInstanceOf[Array[Byte]]
        // the naive reference fold (the pre-r19 shape)
        val (vals, off) = kind match {
          case "audio" =>
            val bb = java.nio.ByteBuffer.wrap(payload, 44, payload.length - 44)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            (Array.fill((payload.length - 44) / 2)(
              math.abs(bb.getShort.toInt).toLong), 0)
          case _ =>
            val info = Multimodal.Mp4.parse(payload).get
            (Array.tabulate(info.mdatLen)(i =>
              (payload(info.mdatOff + i) & 0xff).toLong), 0)
        }
        val n = new Array[Long](w); val sum = new Array[Long](w)
        vals.indices.foreach { i =>
          val wi = (i.toLong * w / vals.length).toInt
          n(wi) += 1; sum(wi) += vals(i)
        }
        (0 until w).filter(n(_) > 0).foreach { wi =>
          assert(got((id, kind, wi.toLong)) == ((n(wi), sum(wi))),
            s"window $wi of $kind $id diverges from the per-sample reference")
        }
        // and no extra windows beyond the reference's non-empty set
        assert(got.keys.count(k => k._1 == id && k._2 == kind) ==
          (0 until w).count(n(_) > 0))
      }
    }
  }

  test("fast PNG writer decodes pixel-identical to an ImageIO.write round-trip") {
    // Round-18: pngEncode (stored-deflate writer) replaced per-row
    // ImageIO.write in fixture synthesis (421 → ~10 µs/image). The decode
    // side is unchanged (real javax.imageio), so the invariant that makes
    // the swap safe is pixel equality THROUGH that real decoder, for both
    // the id-derived media images and the gray video frames.
    import graft.sources.Multimodal
    def decode(b: Array[Byte]) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    def viaImageIO(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    for (id <- Seq(0L, 1L, 7L, 12L, 123456L)) {
      val rgb = (x: Int, y: Int) => ((id * 31 + x * 7 + y * 13) % 0xffffff).toInt
      val w = Multimodal.imgWidth(id); val h = Multimodal.imgHeight(id)
      val fast = decode(Multimodal.pngBytes(id))
      val ref = decode(viaImageIO(w, h, rgb))
      assert(fast.getWidth == w && fast.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        assert((fast.getRGB(x, y) & 0xffffff) == (ref.getRGB(x, y) & 0xffffff),
          s"pixel ($x,$y) of image $id diverged")
        assert((fast.getRGB(x, y) & 0xffffff) == rgb(x, y),
          s"pixel ($x,$y) of image $id lost the closed form")
      }
      // gray video frames (frameBytes PNG path)
      val fb = decode(Multimodal.frameBytes(id, 1, jpeg = false))
      for (y <- 0 until Multimodal.frameH(id); x <- 0 until Multimodal.frameW(id)) {
        val g = Multimodal.framePix(id, 1, x, y)
        assert((fb.getRGB(x, y) & 0xffffff) == ((g << 16) | (g << 8) | g),
          s"frame pixel ($x,$y) of video $id diverged")
      }
    }
  }

  test("lshCandidatePairs + verifyJaccard agree with the array-domain jaccard") {
    import graft.dedup.Dedup
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val variants = base.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" tailword")))
    // two documents that share no shingle, paired by hand below as a band
    // key collision would pair them
    val disjoint = Seq((900001L, "alpha beta gamma delta"), (900002L, "one two three four"))
      .toDF("doc_id", "text")
    val docs = base.unionByName(variants).unionByName(disjoint)
    val sigs = Dedup.signatures(docs.withColumn("side", lit(0)), 3, 6)
    val cands = Dedup.lshCandidatePairs(sigs, "doc_id", 6, 2)
      .unionByName(Seq((900001L, 900002L)).toDF("id_a", "id_b"))
    val verified = Dedup.verifyJaccard(cands, sigs)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(verified.nonEmpty)
    assert(!verified.contains((900001L, 900002L)),
      "a candidate pair that shares no shingle was emitted")
    // every injected near-dup pair must be an LSH candidate with high jaccard
    val arrays = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(Dedup.tokens(col("text")), 3)).as("sh"))
    val exact = arrays.as("a").join(arrays.as("b"),
        col("b.doc_id") === col("a.doc_id") + 100000)
      .select(col("a.doc_id"), Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .as[(Long, Double)].collect()
    exact.filter(_._2 >= 0.7).foreach { case (id, j) =>
      val v = verified.get((id, id + 100000))
      assert(v.isDefined, s"near-dup pair ($id, ${id + 100000}) missed by LSH")
      assert(math.abs(v.get - j) < 1e-9)
    }
  }

  test("connectedComponents labels chains, cliques and isolated pairs") {
    import graft.dedup.Dedup
    // chain 1-2-3-4-5 (diameter 4 → multiple propagation rounds),
    // clique {10,11,12}, isolated pair {20,21}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(Seq(20L, 21L).forall(got(_) == 20L))
    assert(got.size == 10)
  }

  test("connectedComponents stars tier: iteration-cap overrun attributes to the fallback") {
    import graft.dedup.Dedup
    // an 8-node chain under maxIter=1: one propagate+jump round cannot
    // settle diameter 7 (the probe runs — 8 unsettled <= the gate — and
    // correctly finds bichromatic edges), so the stars fallback must
    // produce the labels and the stats must attribute them to it.
    // driverMax = 0 keeps this small graph off the driver union-find.
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, stats) = Dedup.connectedComponentsWithStats(chain, maxIter = 1, driverMax = 0)
    assert(stats == Dedup.CcStats(Dedup.CcTier.Stars, 1), s"chain: $stats")
    assert(labels.as[(Long, Long)].collect().toMap == (1L to 8L).map(_ -> 1L).toMap)
  }

  test("connectedComponents convergence tiers: round-one exits, no fallback") {
    import graft.dedup.Dedup
    // tier 1 (free unsettled count): a min-star graph — every node adjacent
    // to its component min — is correct at the SEED, and round one must
    // observe that without the post-jump probe ever being needed
    // (driverMax = 0: both graphs would otherwise take the driver tier)
    val roundOne = Dedup.CcStats(Dedup.CcTier.Propagation, 1)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (9L, 10L)).toDF("id_a", "id_b")
    val (sLabels, sStats) = Dedup.connectedComponentsWithStats(star, driverMax = 0)
    assert(sStats == roundOne, s"star graph: $sStats")
    assert(sLabels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L, 10L -> 9L))
    // tier 2 (gated bichromatic probe): on a diameter-2 path a-b-c the
    // POINTER JUMP completes convergence mid-round-one; the pre-round-10
    // changed-row test needed a second full round to observe it, the
    // post-jump probe must not
    val path3 = Seq((5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val (pLabels, pStats) = Dedup.connectedComponentsWithStats(path3, driverMax = 0)
    assert(pStats == roundOne, s"3-path: $pStats")
    assert(pLabels.as[(Long, Long)].collect().toMap ==
      Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("connectedComponents works over string ids") {
    import graft.dedup.Dedup
    // labels must stay in the id's own type end-to-end (seed least/min,
    // probe comparisons) — pin the non-long id path
    val pairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(Seq("a", "b", "c").forall(got(_) == "a"))
    assert(Seq("x", "y").forall(got(_) == "x"))
    assert(got.size == 5)
  }

  test("connectedComponents re-throws a warm failure and leaves no warm thread") {
    import graft.dedup.Dedup
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.jdk.CollectionConverters._
    def warmThreads = Thread.getAllStackTraces.keySet.asScala
      .count(_.getName == Dedup.WarmThreadName)
    // driverMax = 0 keeps the call on the distributed tier, which warms
    // each round's checkpoint; every warm must be gone when it returns
    val pairs = spark.range(1, 6).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, stats) = Dedup.connectedComponentsWithStats(pairs, driverMax = 0)
    assert(labels.count() == 6 && stats.tier == Dedup.CcTier.Propagation, stats.toString)
    assert(warmThreads == 0, "a warm thread outlived a successful call")
    // The call reads its pair lineage once, on the calling thread, so a
    // poisoned pair list fails before any warm starts; a warm fails only
    // when a round's checkpoint does. Warm a poisoned checkpoint directly:
    // range-based, not a local relation, so the poison fails inside the
    // warm's job, not during driver-side constant folding.
    val poisoned = pairs.withColumn("id_a",
      when(col("id_a") === 3L, raise_error(lit("cc-warm-poison"))).otherwise(col("id_a")))
      .localCheckpoint(false)
    val warms = new Dedup.CcWarms
    val awaited = Future(scala.util.Try { warms.warm(poisoned); warms.await() })(
      ExecutionContext.global)
    val err = try Await.result(awaited, 2.minutes).failed.toOption
        .getOrElse(fail("await must re-throw a failed warm"))
      finally warms.close()
    val messages = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("cc-warm-poison")), err.toString)
    assert(warmThreads == 0, "a warm thread outlived a failed warm")
  }

  test("connectedComponents fails loudly on a poisoned pair lineage on the driver tier") {
    import graft.dedup.Dedup
    val pairs = spark.range(1, 6).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, stats) = Dedup.connectedComponentsWithStats(pairs)
    assert(labels.count() == 6 && stats == Dedup.CcStats(Dedup.CcTier.DriverUnionFind, 0))
    val poisoned = pairs.withColumn("id_a",
      when(col("id_a") === 3L, raise_error(lit("cc-driver-poison"))).otherwise(col("id_a")))
    val err = intercept[Exception](Dedup.connectedComponents(poisoned))
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("cc-driver-poison")), err.toString)
  }

  test("connectedComponents handles a long chain well inside the round cap") {
    import graft.dedup.Dedup
    // diameter 60: plain min-propagation would need 60 rounds (over the
    // cap); pointer jumping contracts it in O(log n)
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, stats) = Dedup.connectedComponentsWithStats(chain, maxIter = 12, driverMax = 0)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 61 && got.values.forall(_ == 0L))
    assert(stats.tier == Dedup.CcTier.Propagation, stats.toString)
  }

  test("e9 int8 quantization: per-element error <= scale/2 and high top-5 overlap") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("vec", col("embedding").cast("array<double>"))
      .select("vec_id", "vec").limit(40)
    val checked = emb
      .withColumn("scale",
        aggregate(col("vec"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
      .withColumn("err", aggregate(
        zip_with(col("vec"),
          transform(col("vec"), x => round(x / col("scale")) * col("scale")),
          (a, b) => abs(a - b)),
        lit(0.0), (acc, e) => greatest(acc, e)))
      .select("scale", "err").collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      // round-to-nearest: dequantized value within half a quantization step
      assert(r.getDouble(1) <= r.getDouble(0) / 2 + 1e-12,
        s"error ${r.getDouble(1)} exceeds scale/2 ${r.getDouble(0) / 2}")
    }
    val overlaps = SparkEntry.queries("e9_quantized_recall")(
        spark, "/root/testdata/sf0.001")
      .collect().map(_.getAs[Long]("n_overlap5"))
    assert(overlaps.nonEmpty && overlaps.forall(_ >= 3),
      s"int8 ranking collapsed: ${overlaps.mkString(",")}")
    assert(overlaps.sum.toDouble / overlaps.length >= 4.0,
      s"mean overlap too low: ${overlaps.mkString(",")}")
  }

  test("dd11 semantic dedup flags every injected copy against its original") {
    val rows = SparkEntry.queries("dd11_semantic_dedup")(
        spark, "/root/testdata/sf0.001")
      .select("vec_id", "is_dup", "keep_id").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    val copies = rows.keys.filter(_ >= 10000)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      val (isDup, keepId) = rows(id)
      // a copy is an exact vector duplicate of id-10000: same trained cell,
      // cosine 1.0 >= tau, and the original is the lowest close neighbor
      assert(isDup, s"copy $id not flagged")
      assert(keepId == id - 10000, s"copy $id kept for $keepId")
    }
    // originals keep themselves (their copy has the HIGHER id)
    copies.foreach { id =>
      val (isDup, keepId) = rows(id - 10000)
      assert(!isDup && keepId == id - 10000, s"original ${id - 10000} dropped")
    }
  }

  test("Mp4 box walker: round-trip, largesize form, malformed input") {
    import graft.sources.Multimodal
    // round-trip: parse recovers exactly what the synthesizer wrote
    for (id <- Seq(0L, 7L, 123L, 9999L)) {
      val info = Multimodal.Mp4.parse(Multimodal.mp4Bytes(id)).get
      assert(info.brand == "isom")
      assert(info.timescale == Multimodal.vidTimescale(id))
      assert(info.durationTicks == Multimodal.vidDurTicks(id))
      assert(info.width == Multimodal.vidWidth(id))
      assert(info.height == Multimodal.vidHeight(id))
      assert(info.mdatLen == Multimodal.mdatLen(id))
    }
    // 64-bit largesize mdat header (rawSize == 1): the >4 GB form
    val base = Multimodal.mp4Bytes(5L)
    val mdatStart = 16 + 216
    val nb = Multimodal.mdatLen(5L)
    val big = java.nio.ByteBuffer.allocate(base.length + 8)
    big.put(base, 0, mdatStart)
    big.putInt(1); big.put("mdat".getBytes("US-ASCII")); big.putLong(16L + nb)
    big.put(base, mdatStart + 8, nb)
    val parsed = Multimodal.Mp4.parse(big.array()).get
    assert(parsed.mdatLen == nb && parsed.timescale == Multimodal.vidTimescale(5L))
    // malformed input never throws: truncated container, garbage, empty
    assert(Multimodal.Mp4.parse(base.take(40)).isEmpty)
    assert(Multimodal.Mp4.parse(Array.tabulate[Byte](64)(i => (i * 37).toByte)).isEmpty)
    assert(Multimodal.Mp4.parse(Array.empty[Byte]).isEmpty)
    // box claiming to run past the buffer end is rejected, not read OOB
    val lying = base.clone(); lying(0) = 0x7f.toByte
    assert(Multimodal.Mp4.parse(lying).isEmpty)
  }

  test("video frame decode: sample table locates frames, pixels round-trip exactly") {
    import graft.sources.Multimodal
    // container round-trip: stsd codec + stsz sizes + stco offset all parse
    for (id <- Seq(2L, 5L, 8L, 11L)) {
      val info = Multimodal.Mp4.parse(Multimodal.framedMp4Bytes(id)).get
      assert(info.codec == "png ")
      assert(info.sampleSizes.length == Multimodal.vidNFrames(id))
      assert(info.chunkOff == info.mdatOff.toLong) // single-chunk layout
      assert(info.sampleSizes.sum == info.mdatLen.toLong)
    }
    // per-frame decode exactness against the synthesis closed form (PNG is
    // lossless, so the decoded channel equals the arithmetic bit-for-bit)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    val ids = Seq(2L, 5L, 8L)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(id => Row(id, "video", Multimodal.framedMp4Bytes(id)))),
      schema)
    val rows = Multimodal.videoFrames(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    assert(rows.size == ids.map(Multimodal.vidNFrames(_)).sum)
    for (id <- ids; k <- 0 until Multimodal.vidNFrames(id)) {
      val w = Multimodal.frameW(id); val h = Multimodal.frameH(id)
      val expectSum = (for (x <- 0 until w; y <- 0 until h)
        yield Multimodal.framePix(id, k, x, y).toLong).sum
      assert(rows((id, k.toLong)) == (w.toLong, h.toLong, expectSum),
        s"frame ($id, $k) decode mismatch")
    }
    // MJPEG variant: a second image codec through the same sample table —
    // dims must decode (JPEG pixel values are codec-defined, not asserted)
    val jrowsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(7L, "video", Multimodal.framedMp4Bytes(7L, jpeg = true)))),
      schema)
    val jrows = Multimodal.videoFrames(jrowsDf).collect()
    assert(jrows.length == Multimodal.vidNFrames(7L))
    assert(jrows.forall(r => r.getLong(2) == Multimodal.frameW(7L) &&
      r.getLong(3) == Multimodal.frameH(7L)))
    // corrupt frame bytes quarantine that frame, never throw
    val poison = Multimodal.framedMp4Bytes(2L)
    val info2 = Multimodal.Mp4.parse(poison).get
    java.util.Arrays.fill(poison, info2.mdatOff + 1, info2.mdatOff + 8, 0x00.toByte)
    val pDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "video", poison))), schema)
    val pRows = Multimodal.videoFrames(pDf).collect()
    assert(pRows.length < Multimodal.vidNFrames(2L)) // frame 0 quarantined
  }

  test("multimodal decode quarantines corrupt payloads instead of failing the scan") {
    import graft.sources.Multimodal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType),
      StructField("payload", BinaryType)))
    val rnd = new scala.util.Random(11)
    def junk(n: Int): Array[Byte] = { val a = new Array[Byte](n); rnd.nextBytes(a); a }
    val truncatedWav = Multimodal.wavBytes(1).take(20) // < 44-byte header
    val rows = Seq(
      Row(1L, "image", junk(64)),
      Row(2L, "audio", truncatedWav),
      Row(3L, "audio", junk(30)),
      Row(4L, "video", junk(64)),
      Row(5L, "image", Multimodal.pngBytes(5)), // one valid row must survive
      Row(6L, "video", "ftyp".getBytes("US-ASCII"))) // 4 B, under the 8 B guard
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = Multimodal.decodeFeatures(media).orderBy("media_id").collect()
    assert(out.length === 6) // one row per input, nobody threw
    val good = out.find(_.getLong(0) == 5L).get
    assert(good.getStruct(3).getInt(0) === Multimodal.imgWidth(5L))
    out.filter(_.getLong(0) != 5L).foreach { r =>
      assert(r.getStruct(3).isNullAt(0), s"corrupt row ${r.getLong(0)} decoded?")
    }
    // the pooled path skips corrupt rows but keeps the valid one
    val pooled = Multimodal.poolFeatures(media).select("media_id").distinct().collect()
    assert(pooled.map(_.getLong(0)).toSet === Set(5L))
  }

  test("multimodal decode round-trips real PNG and WAV payloads") {
    import graft.sources.Multimodal
    val media = Multimodal.fromDocuments(
      Tables.documents(spark, "/root/testdata/sf0.001").limit(30))
    val rows = Multimodal.decodeFeatures(media)
      .select("media_id", "kind", "decoded.width", "decoded.height",
        "decoded.format", "decoded.sample_rate", "decoded.n_frames", "features")
      .orderBy("media_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      r.getString(1) match {
        case "image" =>
          // decoded by javax.imageio from the actual PNG bytes
          assert(r.getInt(2) == Multimodal.imgWidth(id))
          assert(r.getInt(3) == Multimodal.imgHeight(id))
          assert(r.getString(4) == "png")
          assert(r.getSeq[Float](7).length == 8)
        case "audio" =>
          // decoded by javax.sound.sampled from the actual WAV header
          assert(r.getInt(5) == Multimodal.wavRate(id))
          assert(r.getLong(6) == Multimodal.wavFrames(id).toLong)
          assert(r.getSeq[Float](7).length == 8)
        case "video" =>
          // parsed from the actual ISO-BMFF container boxes (no codec):
          // tkhd 16.16 dims, mvhd timescale/duration, ftyp brand
          assert(r.getInt(2) == Multimodal.vidWidth(id))
          assert(r.getInt(3) == Multimodal.vidHeight(id))
          assert(r.getString(4) == "isom")
          assert(r.getInt(5) == Multimodal.vidTimescale(id))
          assert(r.getLong(6) == Multimodal.vidDurTicks(id))
          assert(r.getSeq[Float](7).length == 8)
      }
    }
    // featurization over DECODED content is deterministic
    val f1 = Multimodal.decodeFeatures(media)
      .select("media_id", "features").orderBy("media_id")
      .as[(Long, Array[Float])].collect()
    val f2 = Multimodal.decodeFeatures(media)
      .select("media_id", "features").orderBy("media_id")
      .as[(Long, Array[Float])].collect()
    def feats(xs: Array[(Long, Array[Float])]) =
      xs.map { case (id, f) => id -> Option(f).map(_.toSeq) }.toSeq
    assert(feats(f1) == feats(f2))
  }

  test("S15: formatted text export sink round-trips the template documents") {
    val base = java.nio.file.Files.createTempDirectory("graft-export").toString
    val docs = SparkEntry.queries("t2_deploy_summary")(spark, "/root/testdata/sf0.001")
      .select("summary")
    docs.coalesce(1).write.mode("overwrite").text(s"$base/out")
    val back = spark.read.text(s"$base/out")
    assert(back.count() == docs.count())
    assert(back.collect().map(_.getString(0)).toSet ==
      docs.collect().map(_.getString(0)).toSet)
  }

  test("lastWriterWins keeps exactly the max-precedence row per key") {
    val base = Seq((1L, 10.0, 1, "base"), (2L, 20.0, 1, "base"), (3L, 30.0, 1, "base"))
      .toDF("k", "v", "prec", "src")
    val upd = Seq((2L, 99.0, 2, "upd"), (3L, 88.0, 0, "old"))
      .toDF("k", "v", "prec", "src")
    val out = graft.operators.Upsert.lastWriterWins(base, upd, "k", "prec", "k")
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("insertIfAbsent preserves existing rows and unions new keys") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val incoming = Seq((2L, "X"), (3L, "c")).toDF("k", "v")
    val out = graft.operators.Upsert.insertIfAbsent(incoming, existing, "k")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("topK returns at most k ranked candidates per query, sims descending") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("vec", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") < 2).select(col("vec_id").as("qid"), col("vec").as("qv"))
    val out = graft.vector.Knn.topK(
      emb.select("vec_id", "vec"), "vec", q, "qid", "qv", k = 4, tiebreak = "vec_id")
      .collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 2 && byQ.values.forall(_.length == 4))
    byQ.values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("langId picks marker-majority language with fixed tie precedence") {
    val df = Seq("the cat and the dog", "der hund ist gut", "zzz qqq").toDF("text")
      .withColumn("l", Analysis.langId(Dedup.tokens(col("text"))))
    assert(df.select("l").as[String].collect().toSeq == Seq("en", "de", "unknown"))
  }

  test("fingerprint is order-insensitive over tokens") {
    val df = Seq("a b c", "c b a").toDF("text")
      .withColumn("fp", Analysis.fingerprint(Dedup.tokens(col("text"))))
    val fps = df.select("fp").as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("F14 jsonPretty matches the reference's json.dumps(indent=2, ensure_ascii=False)") {
    import graft.text.JsonPretty.pretty
    // golden outputs written exactly as Python json.dumps renders them
    assert(pretty("""{"a":1,"b":[1,2],"c":{"d":"x"}}""") ==
      "{\n  \"a\": 1,\n  \"b\": [\n    1,\n    2\n  ],\n  \"c\": {\n    \"d\": \"x\"\n  }\n}")
    assert(pretty("""{"s":"caf\u00e9","empty":{},"arr":[]}""") ==
      "{\n  \"s\": \"caf\u00e9\",\n  \"empty\": {},\n  \"arr\": []\n}")
    assert(pretty("""[true,null,1.5]""") == "[\n  true,\n  null,\n  1.5\n]")
    assert(pretty("not json {") == null)
    assert(pretty(null) == null)
    // column form over real data: every valid props row pretty-prints
    val n = Tables.events(spark, "/root/testdata/sf0.001")
      .select(graft.text.JsonPretty.jsonPretty(col("props")).as("p"))
      .filter(col("p").isNotNull).count()
    assert(n > 0)
  }

  test("dedup-apply keeps exactly one canonical member per dup group") {
    val decisions = SparkEntry.queries("dd10_dedup_apply")(spark, "/root/testdata/sf0.001")
    val perGroup = decisions.groupBy("group_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min("doc_id").as("min_id"))
      .collect()
    assert(perGroup.nonEmpty)
    perGroup.foreach { r =>
      assert(r.getAs[Long]("n_kept") == 1L, s"group ${r.get(0)}: ${r.getAs[Long]("n_kept")} kept")
      // the survivor is the group minimum, which is also the group label
      assert(r.getAs[Long]("min_id") == r.getAs[Long]("group_id"))
    }
    // the injected clones (doc_id % 25 == 0 -> +100000) must all be dropped
    val clonesKept = decisions
      .filter(col("doc_id") >= 100000 && col("kept")).count()
    assert(clonesKept == 0L)
  }

  test("PII redactor fires on injected PII and leaves clean text untouched") {
    val out = SparkEntry.queries("ta6_pii_redact")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_emails"),
        r.getAs[Long]("n_phones"), r.getAs[String]("redacted"))).toSeq
    val (pii, clean) = out.partition(_._1 % 4 == 0)
    assert(pii.nonEmpty && clean.nonEmpty)
    pii.foreach { case (id, ne, np, red) =>
      assert(ne >= 1 && np >= 1, s"doc $id: expected injected PII counted")
      assert(red.contains("<EMAIL>") && red.contains("<PHONE>"))
      assert(!red.contains("@example.com") && !red.matches(".*\\b\\d{3}-\\d{4}\\b.*"))
    }
    clean.foreach { case (id, ne, np, red) =>
      assert(ne == 0 && np == 0, s"doc $id: false positive on clean text")
      assert(!red.contains("<EMAIL>") && !red.contains("<PHONE>"))
    }
  }

  test("intervalOverlapJoin emits each overlapping pair exactly once") {
    import spark.implicits._
    // key 1: a=[0,10] overlaps b1=[5,40] (crosses a cell boundary at 32 —
    // the multi-cell case the start-cell predicate must dedup) and
    // b2=[10,12] (single-point touch); b3=[11,20] does NOT overlap a.
    // key 2: same intervals, different key — must not cross-match.
    val a = Seq((1L, 100L, 0L, 10L), (2L, 200L, 50L, 60L))
      .toDF("k", "a_key", "a_lo", "a_hi")
    val b = Seq((1L, 101L, 5L, 40L), (1L, 102L, 10L, 12L), (1L, 103L, 11L, 20L),
      (2L, 201L, 55L, 100L)).toDF("k", "b_key", "b_lo", "b_hi")
    val out = graft.operators.TemporalJoins.intervalOverlapJoin(
        a, b, "k", "a_lo", "a_hi", "b_lo", "b_hi", cellWidth = 32L)
      .select("k", "a_key", "b_key", "overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((1L, 100L, 101L, 6L), (1L, 100L, 102L, 1L),
      (2L, 200L, 201L, 6L)))
  }

  test("trackStats orders by (ts, tie) and sums squared steps exactly") {
    import spark.implicits._
    // key 1 arrives OUT of ts order: track is (0,0)→(3,4)→(3,4)? no —
    // pings (ts,tie,lat,lon): (1,1,0,0) (2,2,3,4) (2,3,3,1) (5,4,0,1):
    // steps 3²+4²=25, 0+3²=9, 3²+0=9 → total 43, max √25=5.
    val pts = Seq((1L, 5L, 4L, 0L, 1L), (1L, 1L, 1L, 0L, 0L),
      (1L, 2L, 3L, 3L, 1L), (1L, 2L, 2L, 3L, 4L),
      (2L, 9L, 9L, 1500L, 2500L)) // single ping: 0 steps, d2 null → 0
      .toDF("k", "ts", "tie", "lat", "lon")
    val out = graft.operators.Trajectory
      .trackStats(pts, "k", "ts", "tie", "lat", "lon", cellDiv = 1000L)
      .orderBy("k").collect()
    assert(out(0).getLong(1) == 4 && out(0).getLong(2) == 3) // n_pings, n_steps
    assert(out(0).getLong(3) == 43 && out(0).getDouble(4) == 5.0)
    assert(out(0).getLong(5) == 1) // all of key 1 in cell (0,0)
    assert(out(1).getLong(1) == 1 && out(1).getLong(2) == 0)
    assert(out(1).getLong(3) == 0 && out(1).getDouble(4) == 0.0)
    assert(out(1).getLong(5) == 1) // cell (1,2)
  }

  test("asofJoinTolerance: forward picks earliest ≥, tolerance boundary inclusive") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000L)
    // queries at t=100; updates at 100 (tie), 150, 5000 — with tol=60s the
    // tie matches (gap 0), q at t=120 matches t=150 (gap 30), q at t=200
    // has next update 5000s away → gap 4800 > 60 → null, not dropped.
    val q = Seq((1L, 10L, 100L), (1L, 11L, 120L), (1L, 12L, 200L), (2L, 20L, 100L))
      .map { case (k, id, t) => (k, id, ts(t)) }.toDF("k", "qid", "ts")
    val u = Seq((1L, 100L, 1.0), (1L, 150L, 2.0), (1L, 5000L, 3.0))
      .map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "ts", "v")
    val out = graft.operators.TemporalJoins.asofJoinTolerance(
        q, u, "k", "ts", "v", "m", toleranceMicros = 60L * 1000000L,
        forward = true)
      .orderBy("qid").collect()
    assert(out.length == 4)
    assert(out(0).getDouble(3) == 1.0)       // tie at equal ts matches
    assert(out(1).getDouble(3) == 2.0)       // earliest following, not latest
    assert(out(2).isNullAt(3))               // beyond tolerance → null kept
    assert(out(3).isNullAt(3))               // key with no updates at all
    // exact-boundary inclusivity: gap == tolerance still matches
    val b = graft.operators.TemporalJoins.asofJoinTolerance(
        Seq((1L, ts(90L))).toDF("k", "ts"), u, "k", "ts", "v", "m",
        toleranceMicros = 10L * 1000000L, forward = true).collect()
    assert(b.head.getDouble(2) == 1.0)
  }

  test("funnelSteps requires strictly-later events and keeps partial users") {
    import spark.implicits._
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "click", 5L), (2L, "view", 10L),   // click BEFORE view only
      (3L, "view", 10L), (3L, "click", 10L),  // tie: click at ts_1 exactly
      (4L, "click", 1L), (4L, "purchase", 2L) // never viewed → absent
    ).map { case (u, t, sec) => (u, t, ts(sec)) }.toDF("u", "typ", "ts")
    val out = new Engine(spark)
      .funnelSteps(ev, "u", "ts", "typ", Seq("view", "click", "purchase"))
      .orderBy("u").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).getTimestamp(2) == ts(20) && out(0).getTimestamp(3) == ts(30))
    assert(out(1).isNullAt(2) && out(1).isNullAt(3)) // no click after view
    assert(out(2).isNullAt(2)) // equal ts is not strictly later
  }
}
