package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.operators.FuzzyJoin
import graft.vector.Embed

/** Property tests for the cleaners and sketches (SURVEY.md §5: our test
  * strategy is strictly stronger than the reference's log-only suite).
  * Raw ScalaCheck generators with a fixed seed — deterministic across runs.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("ShingleMd5 equals the composed shingle+array_distinct+md5-split form") {
    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    val rnd = new scala.util.Random(99)
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "longish-token",
      "alpha", "UPPER", "12", "\u00e9t\u00e9") // repeats + unicode
    val docs = (0 until 60).map { id =>
      val n = rnd.nextInt(12)
      (id.toLong, (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    for (k <- Seq(2, 3, 5)) {
      val composed = Dedup.withShingleHash(docs.select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(Dedup.tokens(col("text")), k))).as("shingle")))
        .select("doc_id", "sh_hi", "sh_lo")
      val fused = docs.select(col("doc_id"),
          explode(graft.expressions.ShingleMd5.of(Dedup.tokens(col("text")), k)).as("s"))
        .select(col("doc_id"), col("s.sh_hi").as("sh_hi"), col("s.sh_lo").as("sh_lo"))
      val diff = composed.exceptAll(fused).unionByName(fused.exceptAll(composed))
      assert(diff.count() === 0, s"mismatch at n=$k")
    }
    // null tokens: concat_ws semantics (nulls skipped inside the shingle)
    val withNulls = Seq((1L, Seq("a", null, "b", "c"))).toDF("doc_id", "toks")
    val f = withNulls.select(explode(graft.expressions.ShingleMd5.of(col("toks"), 2)).as("s"))
      .select("s.sh_hi", "s.sh_lo").collect().toSet
    val c = withNulls
      .select(explode(array_distinct(Dedup.shingles(col("toks"), 2))).as("sh"))
      .select(graft.expressions.Md5Split(col("sh")).as("p"))
      .select(element_at(col("p"), 1).as("sh_hi"), element_at(col("p"), 2).as("sh_lo"))
      .collect().toSet
    assert(f === c)
  }

  test("per-document MinHash lanes and sizes equal minhashAggs over shingle rows") {
    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    // null, empty, blank, under one shingle, exactly one shingle, a
    // repeated shingle, then random texts over a small vocabulary
    val fixed = Seq(null, "", "   ", "one", "one two", "one two three",
      "a b c a b c a b c", "x y x y x y x", "Mixed CASE mixed case words here")
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "y", "12", "\u00e9t\u00e9")
    val random = samples(Gen.listOfN(14, Gen.oneOf(words)).flatMap(ws =>
      Gen.choose(0, ws.size).map(n => ws.take(n).mkString(" "))), 80)
    val docs = (fixed ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val lanes = (0 until 6).map(j => s"mh$j") :+ "nsh"
    val spine = Dedup.signatures(docs.withColumn("side", lit(0)), 3, 6)
      .select("doc_id", lanes: _*)
    val mh = Dedup.minhashAggs(6)
    val rows = Dedup.withShingleHash(docs.select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(Dedup.tokens(col("text")), 3))).as("shingle")))
      .groupBy("doc_id").agg(mh.head, (mh.tail :+ count(lit(1)).as("nsh")): _*)
    val got = spine.collect().map(_.toSeq).toSet
    val want = rows.collect().map(_.toSeq).toSet
    assert(got === want)
    // shingle-less documents have a row in neither
    assert(!got.exists(r => Set(0L, 1L, 2L, 3L, 4L)(r.head.asInstanceOf[Long])))
    assert(got.size > fixed.size)
  }

  test("cleanId strips any b'...' wrapper and whitespace") {
    val ids = samples(Gen.alphaNumStr.map(_.take(30)), 40)
    val df = ids.map(id => s"b'$id '").toDF("x")
      .select(FuzzyJoin.cleanId(col("x")).as("c"))
    assert(df.as[String].collect().toSeq == ids.map(_.trim))
  }

  test("embedTokens: unit norm for any non-empty token list, 0-vector for empty") {
    samples(Gen.nonEmptyListOf(Gen.alphaStr.suchThat(_.nonEmpty)), 40).foreach { toks =>
      val v = Embed.embedTokens(toks, 64)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5, s"norm $norm for $toks")
    }
    assert(Embed.embedTokens(Nil, 64).forall(_ == 0.0f))
  }

  test("fnv1a is stable and spreads across buckets") {
    val hashes = (0 until 1000).map(i => (Embed.fnv1a(s"tok$i") & 0x7fffffff) % 64)
    assert(hashes.distinct.size > 48, "expected most of 64 buckets hit")
    assert(Embed.fnv1a("abc") == Embed.fnv1a("abc"))
  }

  test("shingles count is max(0, n-k+1) for any token list") {
    val cases = samples(
      for {
        toks <- Gen.listOf(Gen.identifier.suchThat(t => t.nonEmpty && !t.contains(" ")))
        k <- Gen.chooseNum(2, 4)
      } yield (toks, k), 40)
    cases.foreach { case (toks, k) =>
      val text = toks.mkString(" ")
      val out = Seq(text).toDF("text")
        .select(Dedup.shingles(Dedup.tokens(col("text")), k).as("sh"))
        .as[Seq[String]].head()
      assert(out.length == math.max(0, toks.length - k + 1), s"toks=$toks k=$k")
    }
  }

  test("jaccard is 1 on identical sets and within [0,1] generally") {
    val cases = samples(
      for {
        a <- Gen.nonEmptyListOf(Gen.identifier)
        b <- Gen.nonEmptyListOf(Gen.identifier)
      } yield (a.distinct, b.distinct), 30)
    val df = cases.toDF("x", "y").select(
      Dedup.jaccard(col("x"), col("y")).as("j"),
      Dedup.jaccard(col("x"), col("x")).as("self"))
    df.as[(Double, Double)].collect().foreach { case (j, self) =>
      assert(j >= 0.0 && j <= 1.0)
      assert(self == 1.0)
    }
  }

  test("simhashWide packed counters equal a naive per-bit reference computation") {
    // The 5x12-bit counter packing is subtle; verify the whole pipeline
    // against a direct Scala reimplementation (md5 -> hex digits -> signed
    // votes -> sign bits) on randomized (doc, token, cnt) frames.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def naive(rows: Seq[(Long, String, Long)]): Map[Long, Long] =
      rows.groupBy(_._1).map { case (doc, rs) =>
        val bits = (0 until Dedup.WideBits).map { b =>
          val w = rs.map { case (_, tok, cnt) =>
            val digit = Character.digit(md5hex(tok).charAt(b / 4), 16)
            cnt * (((digit >> (b % 4)) & 1) * 2 - 1)
          }.sum
          if (w > 0) 1L << b else 0L
        }.sum
        doc -> bits
      }
    val tokGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "theta")
    val rowGen = for {
      doc <- Gen.choose(0L, 5L)
      tok <- tokGen
      cnt <- Gen.choose(1L, 40L)
    } yield (doc, tok, cnt)
    val frames = samples(Gen.listOfN(25, rowGen), 6)
    frames.foreach { raw =>
      // per (doc, token) counts must be unique keys, like the real pipeline
      val rows = raw.groupBy(r => (r._1, r._2))
        .map { case ((d, t), rs) => (d, t, rs.map(_._3).sum) }.toSeq
      val got = Dedup.simhashWide(rows.toDF("doc_id", "token", "cnt"), "doc_id")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
      assert(got == naive(rows), s"packing mismatch on $rows")
    }
  }

  test("jsonPretty round-trips: parsing the pretty output yields the same tree") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val m = new ObjectMapper()
    val leafGen: Gen[String] = Gen.oneOf(
      Gen.choose(-1000, 1000).map(_.toString),
      Gen.alphaNumStr.map(s => "\"" + s.take(8) + "\""),
      Gen.oneOf("true", "false", "null"))
    def objGen(depth: Int): Gen[String] =
      if (depth == 0) leafGen
      else Gen.choose(0, 3).flatMap { n =>
        Gen.listOfN(n, Gen.zip(Gen.alphaStr.map(_.take(5)), objGen(depth - 1)))
          .map(kvs => kvs.zipWithIndex
            .map { case ((k, v), i) => "\"k" + i + k + "\": " + v }
            .mkString("{", ", ", "}"))
      }
    samples(objGen(3), 30).foreach { json =>
      val pretty = graft.text.JsonPretty.pretty(json)
      assert(pretty != null, s"failed to pretty-print $json")
      assert(m.readTree(pretty) == m.readTree(json), s"round-trip changed $json")
    }
    assert(graft.text.JsonPretty.pretty("{nope") == null)
  }

  test("graft_md5_split nibbles equal the hex-parse reference on random strings") {
    val strs = samples(Gen.asciiPrintableStr.map(_.take(40)), 60).distinct
    val df = strs.toDF("s").select(
      col("s"),
      md5(col("s")).as("hex"),
      graft.expressions.Md5Split(col("s")).as("pair"))
    df.collect().foreach { r =>
      val hex = r.getString(1)
      val pair = r.getSeq[Long](2)
      val (hi, lo) = (pair(0), pair(1))
      (0 until 32).foreach { i =>
        val fromHex = "0123456789abcdef".indexOf(hex.charAt(i)).toLong
        val fromBits =
          if (i < 16) (hi >>> (60 - 4 * i)) & 15L
          else (lo >>> (124 - 4 * i)) & 15L
        assert(fromBits == fromHex, s"nibble $i of md5('${r.getString(0)}')")
      }
    }
  }

  /** Component-minimum labels by a plain union-find, `lt` the id order. */
  private def unionFindRef[T](pairs: Seq[(T, T)], lt: (T, T) => Boolean): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  test("connectedComponents equals a union-find reference on random graphs") {
    import org.apache.spark.sql.{DataFrame, Row}
    import Dedup.{CcStats, CcTier}
    // the labels of all three paths: the driver union-find, the
    // propagation rounds and the stars rounds
    def all3(df: DataFrame): (Array[Row], Array[Row], Array[Row]) = {
      val (viaDriver, dStats) = Dedup.connectedComponentsWithStats(df)
      // driverMax = -1: an empty pair list (0 <= 0 pairs) takes the rounds too
      val (viaRounds, rStats) = Dedup.connectedComponentsWithStats(df, driverMax = -1)
      // maxIter = 0: no propagation round runs, the stars rounds label
      val (viaStars, sStats) = Dedup.connectedComponentsWithStats(df, maxIter = 0, driverMax = -1)
      assert(dStats == CcStats(CcTier.DriverUnionFind, 0), dStats.toString)
      assert(rStats.tier == CcTier.Propagation, rStats.toString)
      assert(sStats == CcStats(CcTier.Stars, 0), sStats.toString)
      Seq(viaRounds, viaStars).foreach(l =>
        assert(viaDriver.schema.map(_.dataType) == l.schema.map(_.dataType)))
      (viaDriver.collect(), viaRounds.collect(), viaStars.collect())
    }
    // self-pairs, duplicates and both orientations of a pair all occur; an
    // endpoint is null with probability 1/12
    val genGraph = for {
      n <- Gen.choose(1, 30)
      m <- Gen.choose(1, 40)
      pairs <- Gen.listOfN(m, Gen.zip(
        Gen.frequency(1 -> Gen.const(None), 11 -> Gen.choose(0L, n.toLong).map(Some(_))),
        Gen.frequency(1 -> Gen.const(None), 11 -> Gen.choose(0L, n.toLong).map(Some(_)))))
      dups <- Gen.someOf(pairs)
    } yield pairs ++ dups.map(_.swap)
    val graphs = samples(genGraph, 12)
    assert(graphs.exists(_.exists(p => p._1.isEmpty || p._2.isEmpty)) &&
      graphs.exists(_.forall(p => p._1.isDefined && p._2.isDefined)))
    // ids whose string order differs from the numeric one and from Java's
    // UTF-16 order: U+FFFF sorts before U+1F600 in Spark's UTF-8 byte order
    val prefixes = Seq("\uFFFF", "\uD83D\uDE00", "a", "Z", "1", "")
    def str(id: Long) = s"${prefixes((id % prefixes.size).toInt)}$id"
    def utf8Lt(a: String, b: String) = org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    graphs.foreach { pairs =>
      val (dl, rl, sl) = all3(pairs.toDF("id_a", "id_b"))
      val (ds, rs, ss) =
        all3(pairs.map { case (a, b) => (a.map(str), b.map(str)) }.toDF("id_a", "id_b"))
      def longs(rows: Array[Row]) =
        rows.map(r => Option(r.getAs[java.lang.Long](0)) -> Option(r.getAs[java.lang.Long](1))).toMap
      def strs(rows: Array[Row]) =
        rows.map(r => Option(r.getString(0)) -> Option(r.getString(1))).toMap
      // one row per node, the null node included
      assert(dl.length == longs(dl).size && ds.length == strs(ds).size, s"duplicate member on $pairs")
      assert(longs(dl) == longs(rl), s"long ids: driver vs rounds on $pairs")
      assert(strs(ds) == strs(rs), s"string ids: driver vs rounds on $pairs")
      assert(sl.length == dl.length && longs(dl) == longs(sl), s"long ids: driver vs stars on $pairs")
      assert(ss.length == ds.length && strs(ds) == strs(ss), s"string ids: driver vs stars on $pairs")
      // non-null members: the component minimum over the non-null pairs
      val full = pairs.collect { case (Some(a), Some(b)) => (a, b) }
      val loose = pairs.flatMap(p => p._1.toSeq ++ p._2.toSeq).map(x => (x, x))
      val refL = unionFindRef[Long](full ++ loose, _ < _)
      val refS = unionFindRef[String]((full ++ loose).map(p => (str(p._1), str(p._2))), utf8Lt)
      assert(longs(dl).collect { case (Some(k), Some(v)) => k -> v } == refL,
        s"long ids vs reference on $pairs")
      assert(strs(ds).collect { case (Some(k), Some(v)) => k -> v } == refS,
        s"string ids vs reference on $pairs")
    }
    // null endpoints, pinned on every path: a null node joins no
    // component and takes the least minimum among its non-null partners
    val withNulls = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(2L), None),
      (Some(5L), None), (Some(7L), Some(7L)), (None, None), (Some(8L), Some(9L)), (None, Some(9L)))
    val pinned = Map[Option[Long], Option[Long]](Some(1L) -> Some(1L), Some(2L) -> Some(1L),
      Some(5L) -> Some(5L), Some(7L) -> Some(7L), Some(8L) -> Some(8L), Some(9L) -> Some(8L),
      None -> Some(1L))
    val (nd, nr, ns) = all3(withNulls.toDF("id_a", "id_b"))
    Seq(nd, nr, ns).foreach { rows =>
      assert(rows.map(r => Option(r.getAs[java.lang.Long](0)).map(_.toLong) ->
        Option(r.getAs[java.lang.Long](1)).map(_.toLong)).toMap == pinned)
    }
    val onlyNull = all3(Seq[(Option[Long], Option[Long])]((None, None)).toDF("id_a", "id_b"))
    Seq(onlyNull._1, onlyNull._2, onlyNull._3).foreach { rows =>
      assert(rows.map(r => (r.isNullAt(0), r.isNullAt(1))).toSeq == Seq((true, true)))
    }
    // empty input, long and string ids
    assert(all3(Seq.empty[(Long, Long)].toDF("id_a", "id_b")) match {
      case (d, r, st) => d.isEmpty && r.isEmpty && st.isEmpty })
    assert(all3(Seq.empty[(String, String)].toDF("id_a", "id_b")) match {
      case (d, r, st) => d.isEmpty && r.isEmpty && st.isEmpty })
  }

  test("connectedComponentsStars equals connectedComponents on random graphs") {
    val genGraph = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.distinct
    samples(genGraph, 8).filter(_.nonEmpty).foreach { edges =>
      val viaStars = Dedup.connectedComponentsStars(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val viaLabels = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(viaStars == viaLabels, s"stars vs label-prop mismatch on $edges")
    }
  }

  test("10k-node path graph: stars fallback converges, same labels via API") {
    // the adversarial chain shape the round-8 verdict called out: a single
    // path 0-1-2-...-9999 (diameter 9999). Alternating star rounds must
    // converge in O(log n) rounds, and the PUBLIC connectedComponents API —
    // given a round cap too small for its label-propagation loop — must
    // fall back to the stars path instead of throwing.
    val path = spark.range(9999).selectExpr("id as id_a", "id + 1 as id_b")
    val viaStars = Dedup.connectedComponentsStars(path)
    assert(viaStars.count() == 10000)
    assert(viaStars.filter(col("group_id") =!= 0L).isEmpty,
      "every node of the path must label to component min 0")
    // driverMax = 0: 9999 pairs would otherwise take the driver union-find
    val (viaApi, stats) = Dedup.connectedComponentsWithStats(path, maxIter = 2, driverMax = 0)
    assert(viaApi.filter(col("group_id") =!= 0L).isEmpty &&
      viaApi.count() == 10000,
      "connectedComponents must fall back to stars, not throw or mislabel")
    assert(stats == Dedup.CcStats(Dedup.CcTier.Stars, 2), stats.toString)
  }

  test("connectedComponents takes the driver tier up to its bound, reading the pairs once") {
    import Dedup.CcTier
    Seq(24L -> CcTier.DriverUnionFind, 23L -> CcTier.Propagation).foreach { case (bound, tier) =>
      val reads = spark.sparkContext.longAccumulator("cc-pair-reads")
      val counted = udf((x: Long) => { reads.add(1); x }).asNondeterministic()
      // 24 pairs: a 13-node chain and six 3-node paths
      val pairs = spark.range(24).select(
        counted(col("id")).as("id_a"),
        when(col("id") < 12L, col("id") + 1).otherwise(col("id") + 100 - (col("id") % 2))
          .as("id_b"))
      val (labels, stats) = Dedup.connectedComponentsWithStats(pairs, driverMax = bound)
      val got = labels.as[(Long, Long)].collect().toMap
      assert(stats.tier == tier, s"bound $bound: $stats")
      assert(reads.value == 24L, s"bound $bound: the pair lineage ran ${reads.value} rows")
      val ref = unionFindRef[Long](pairs.as[(Long, Long)].collect().toSeq, _ < _)
      assert(got == ref, s"bound $bound")
    }
  }

  test("connectedComponents' driver tier hands a large labelling back over an RDD") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    import Dedup.{CcStats, CcTier}
    // stars of 8 nodes, hub first: more labels than a local relation holds
    val n = Dedup.LocalLabelsMax + 1000L
    val stars = spark.range(n).filter(col("id") % 8 =!= 0)
      .select((col("id") - col("id") % 8).as("id_a"), col("id").as("id_b"))
    Seq(stars, stars.select(concat(lit("d"), col("id_a")).as("id_a"),
        concat(lit("d"), col("id_b")).as("id_b"))).foreach { pairs =>
      val (viaDriver, stats) = Dedup.connectedComponentsWithStats(pairs)
      assert(stats == CcStats(CcTier.DriverUnionFind, 0), stats.toString)
      val leaves = viaDriver.queryExecution.analyzed.collectLeaves()
      assert(leaves.exists(_.isInstanceOf[LogicalRDD]) &&
        !leaves.exists(_.isInstanceOf[LocalRelation]), leaves.toString)
      assert(viaDriver.schema == Dedup.connectedComponentsWithStats(pairs, driverMax = 0)._1.schema)
      val got = viaDriver.collect().map(r => r.get(0) -> r.get(1)).toMap
      val ref = pairs.collect().map(r => (r.get(0), r.get(1))).toSeq
      val want = pairs.schema("id_a").dataType match {
        case org.apache.spark.sql.types.LongType =>
          unionFindRef[Any](ref, (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
        case _ => unionFindRef[Any](ref, (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String])
      }
      assert(got.size == n && got == want)
    }
  }

  test("TopKPerKey equals the window form on random frames (property)") {
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      key <- Gen.choose(0, 12)
      score <- Gen.option(Gen.choose(0, 8)) // heavy ties + nulls
    } yield (s"k$key", score.map(_.toDouble))
    (0 until 3).foreach { round =>
      val rows = (0 until 400).flatMap(i =>
        rowGen.apply(Gen.Parameters.default, Seed(round * 1000L + i))
          .map { case (k, s) => (k, s, (round * 1000 + i).toLong) })
      val df = rows.toDF("key", "score", "id")
      val k = round + 1
      val custom = graft.operators.TopK.perKey(
        df, Seq("key"), Seq("score" -> false, "id" -> true), k)
      val w = Window.partitionBy("key").orderBy(col("score").desc, col("id").asc)
      val expected = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      assert(custom.orderBy("key", "rank").collect().toSeq ==
        expected.orderBy("key", "rank").collect().toSeq, s"round=$round k=$k")
    }
  }

  test("MisraGries sketch retains every item with freq > N/(k+1), any split") {
    // Zipf-ish random streams; the distributed agg must uphold the classic
    // MG guarantee regardless of how rows land in partitions
    val itemGen = Gen.frequency(
      (50, Gen.const("whale")), (20, Gen.const("shark")),
      (30, Gen.choose(0, 400).map(i => s"minnow$i")))
    (0 until 3).foreach { round =>
      val items = (0 until 4000).flatMap(i =>
        itemGen.apply(Gen.Parameters.default, Seed(round * 7000L + i)))
      val k = Seq(9, 19, 39)(round)
      val n = items.size
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val mustSurvive = exact.filter(_._2 * (k + 1) > n).keySet
      for (parts <- Seq(1, 7, 32)) {
        val got = items.toDF("item").repartition(parts)
          .agg(graft.expressions.MisraGries.sketch(col("item"), k).as("c"))
          .select(explode(col("c")).as("item"))
          .as[String].collect().toSet
        assert(got.size <= k, s"round=$round parts=$parts size=${got.size}")
        assert(mustSurvive.subsetOf(got),
          s"round=$round parts=$parts lost=${mustSurvive -- got}")
      }
    }
  }
}
