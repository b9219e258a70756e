package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import graft.sources.{Hdf5, NetCdf}
import graft.sources.NetCdf._

/** Seeded input generators. Everything a workload feeds the engine comes
  * from here, and every value is a closed form in (seed, file, profile,
  * level) built from binary fractions, so the output checks can recompute
  * the expected answer in plain Scala, without the engine.
  */
object Gen {

  val Fill = 99999.0f
  /** 1950-01-01T00:00Z, the Argo JULD epoch, in epoch seconds. */
  val ArgoEpoch: Long = LocalDateTime.of(1950, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)

  // ------------------------------------------------------- Argo closed form

  /** One generated NetCDF file: float `floatId` with `nProf` profiles of
    * `nLev` levels, serialized as container `kind`.
    */
  final case class NcFile(idx: Int, floatId: Long, kind: String, nProf: Int,
      nLev: Int, upper: Boolean, charPlatform: Boolean) {
    def name: String = f"f$idx%05d_$kind.nc"
    def corrupt: Boolean = kind.startsWith("corrupt")
    def rows: Long = if (corrupt) 0L else nProf.toLong * nLev
  }

  /** Closed form of the Argo corpus for one seed. Time is JULD days; a fill
    * time drops the profile in `Pipeline.clean` (critical null), an
    * out-of-range latitude drops it in the geo filter, and temperatures
    * above 40 are nulled by the bounds rule.
    */
  final class ArgoForm(seed: Long) {
    private val s = (seed % 997 + 997) % 997
    def juld(f: Int, p: Int): Double =
      if ((f + p + s) % 23 == 0) Fill.toDouble
      else 20000.0 + ((f * 37 + p * 11 + s) % 6000) + 0.25 * ((f + p) % 4)
    def lat(f: Int, p: Int): Double =
      if ((f * 3 + p + s) % 29 == 0) 95.5 else -70.0 + ((f * 7 + p * 3 + s) % 140) + 0.5
    def lon(f: Int, p: Int): Double = -180.0 + ((f * 11 + p * 17 + s) % 360) + 0.5
    def pres(f: Int, p: Int, l: Int): Float =
      if ((f + p + l) % 17 == 0) Fill else (l * 10 + (p % 4) * 0.25).toFloat
    def temp(f: Int, p: Int, l: Int): Float =
      if ((f * 3 + p + l * 2 + s) % 19 == 0) Fill
      else if ((f + l + s) % 31 == 0) 45.5f
      else (30.0 - (l % 64) * 0.5 - ((f + p) % 8) * 0.125).toFloat
    def psal(f: Int, p: Int, l: Int): Float =
      if ((f + 2 * p + l) % 13 == 0) Fill
      else (33.0 + (l % 8) * 0.25 + ((f + p) % 3) * 0.125).toFloat
    /** Decoded instant of profile (f, p) in epoch seconds, if not fill. */
    def epochSeconds(f: Int, p: Int): Option[Long] = {
      val d = juld(f, p)
      if (d == Fill.toDouble) None else Some(ArgoEpoch + math.round(d * 86400.0))
    }
    /** Does profile (f, p) survive the clean chain's row filters? */
    def kept(f: Int, p: Int): Boolean = epochSeconds(f, p).isDefined && lat(f, p) <= 90
  }

  /** Container kinds and their share of the corpus (percent). */
  val Kinds: Seq[(String, Int)] = Seq(
    "cdf1" -> 28, "cdf2" -> 12, "cdf5" -> 10, "cdf1rec" -> 14, "cdf5rec" -> 6,
    "hdf5" -> 14, "hdf5chunk" -> 12, "corrupt_trunc" -> 2, "corrupt_garbage" -> 2)

  /** Files per kind of an `n`-file corpus, in [[Kinds]] order: the shares
    * of [[Kinds]] by largest remainder, so the counts sum to `n`, and at
    * least one file of every kind when `n` allows it (taken from the
    * largest count).
    */
  def kindCounts(n: Int): Seq[Int] = {
    val total = Kinds.map(_._2).sum
    val c = Kinds.map { case (_, w) => w * n / total }.toArray
    Kinds.indices.sortBy(i => (-(Kinds(i)._2 * n % total), i)).take(n - c.sum).foreach(c(_) += 1)
    if (n >= Kinds.size) c.indices.filter(c(_) == 0).foreach { i => c(c.indices.maxBy(c(_))) -= 1; c(i) = 1 }
    c.toSeq
  }

  /** The corpus shape: `n` files whose container kinds follow [[Kinds]]
    * and whose profile and level counts are heavy-tailed (most floats are
    * small, a few carry most of the rows). Which kind gets which shape is
    * the same for every seed: corrupt files take the smallest shapes, and
    * every healthy kind takes its share of small, middle and large ones. So
    * neither the volume nor the decode work per container kind varies with
    * the seed; the seed shuffles the files' order and names and sets the
    * values.
    */
  def argoSpecs(seed: Long, n: Int): Seq[NcFile] = {
    val shapes = (0 until n).map { i =>
      val u = (i + 0.5) / n
      (math.min(80, (2.0 / math.pow(1.0 - u, 0.8)).toInt + 1), 20 + (u * u * 300).toInt)
    }.sortBy { case (p, l) => p * l }
    val counts = Kinds.map(_._1).zip(kindCounts(n))
    val (corrupt, healthy) = counts.partition(_._1.startsWith("corrupt"))
    // healthy kinds interleaved in proportion to their counts, in size order
    val interleaved = healthy.flatMap { case (k, c) => (0 until c).map(j => ((j + 0.5) / c, k)) }
      .sortBy(_._1).map(_._2)
    val kindShapes = (corrupt.flatMap { case (k, c) => Seq.fill(c)(k) } ++ interleaved).zip(shapes)
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val a = kindShapes.toArray
    for (i <- a.length - 1 to 1 by -1) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq.zipWithIndex.map { case ((k, (np, nl)), i) =>
      NcFile(i, 5900000L + seed % 1000 * 1000 + i, k, np, nl,
        upper = rnd.nextBoolean(), charPlatform = rnd.nextInt(4) == 0)
    }
  }

  /** Serialize one file of the corpus. */
  def ncBytes(form: ArgoForm, spec: NcFile): Array[Byte] = {
    val f = spec.idx
    val (np, nl) = (spec.nProf, spec.nLev)
    val upper = spec.upper
    def nm(u: String) = if (upper) u else u.toLowerCase
    val record = spec.kind.endsWith("rec")
    val v5 = spec.kind.startsWith("cdf5")
    val dims = Seq(NcDim("N_PROF", if (record) 0 else np), NcDim("N_LEVELS", nl),
      NcDim("STRING8", 8))
    val h5dims = dims.map(d => if (d.name == "N_PROF") NcDim("N_PROF", np) else d)
    val fill: Seq[(String, NcVal)] =
      Seq((if (upper) "_FillValue" else "missing_value") -> NcFloats(Array(Fill)))
    val dfill: Seq[(String, NcVal)] =
      Seq((if (upper) "_FillValue" else "missing_value") -> NcDoubles(Array(Fill.toDouble)))
    val units = if (upper) "days since 1950-01-01 00:00:00" else "hours since 1950-01-01 00:00:00"
    def timeVal(p: Int): Double = {
      val d = form.juld(f, p)
      if (d == Fill.toDouble || upper) d else d * 24.0
    }
    val platform =
      if (spec.charPlatform)
        NcVar("PLATFORM_NUMBER", Seq(0, 2), NC_CHAR, Nil, NcChars(
          (0 until np).flatMap(_ => spec.floatId.toString.padTo(8, ' ').getBytes("UTF-8")).toArray))
      else NcVar(nm("PLATFORM_NUMBER"), Seq(0), NC_DOUBLE, Nil,
        NcDoubles(Array.fill(np)(spec.floatId.toDouble)))
    val cycle =
      if (v5) NcVar(nm("CYCLE_NUMBER"), Seq(0), NC_INT64, Nil,
        NcLongs((0 until np).map(p => (p + 1).toLong).toArray))
      else NcVar(nm("CYCLE_NUMBER"), Seq(0), NC_INT, Nil, NcInts((0 until np).map(_ + 1).toArray))
    def grid(g: (Int, Int, Int) => Float): NcFloats =
      NcFloats((for (p <- 0 until np; l <- 0 until nl) yield g(f, p, l)).toArray)
    val vars = Seq(
      platform, cycle,
      NcVar(nm("JULD"), Seq(0), NC_DOUBLE, Seq("units" -> NcStr(units)) ++ dfill,
        NcDoubles((0 until np).map(timeVal).toArray)),
      NcVar(nm("LATITUDE"), Seq(0), NC_DOUBLE, Nil, NcDoubles((0 until np).map(form.lat(f, _)).toArray)),
      NcVar(nm("LONGITUDE"), Seq(0), NC_DOUBLE, Nil, NcDoubles((0 until np).map(form.lon(f, _)).toArray)),
      NcVar(nm("PRES"), Seq(0, 1), NC_FLOAT, fill, grid(form.pres)),
      NcVar(nm("TEMP"), Seq(0, 1), NC_FLOAT, fill, grid(form.temp)),
      NcVar(nm("PSAL"), Seq(0, 1), NC_FLOAT, fill, grid(form.psal)))
    val title = Seq("title" -> NcStr(s"perfbench Argo float ${spec.floatId}"))
    spec.kind match {
      case "cdf1" => NetCdf.writeBytes(dims, title, vars, version = 1)
      case "cdf2" => NetCdf.writeBytes(dims, title, vars, version = 2)
      case "cdf5" => NetCdf.writeBytes(dims, title, vars, version = 5)
      case "cdf1rec" => NetCdf.writeBytes(dims, title, vars, version = 1, numrecs = np)
      case "cdf5rec" => NetCdf.writeBytes(dims, title, vars, version = 5, numrecs = np)
      case "hdf5" => Hdf5.writeBytes(h5dims, title, vars)
      case "hdf5chunk" => Hdf5.writeBytes(h5dims, title, vars, Hdf5.H5Opts(unlimited = Set("N_PROF")))
      case "corrupt_trunc" =>
        NetCdf.writeBytes(h5dims, title, vars, version = 1).take(48 + f % 32)
      case "corrupt_garbage" => s"upload $f is not a NetCDF container".getBytes("UTF-8")
    }
  }

  /** Write the corpus; returns total bytes written. */
  def writeArgo(dir: String, form: ArgoForm, specs: Seq[NcFile]): Long = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    specs.map { s => val b = ncBytes(form, s); Files.write(d.resolve(s.name), b); b.length.toLong }.sum
  }

  // --------------------------------------------------------- text corpora

  /** A pseudo-word vocabulary: lower-case letter/digit tokens that no
    * stop-word list contains.
    */
  def vocab(n: Int, salt: Long): IndexedSeq[String] = {
    val rnd = new SplittableRandom(salt)
    val letters = "bcdfghjklmnpqrstvwxz"
    val vowels = "aeiouy"
    (0 until n).map { i =>
      val b = new StringBuilder
      (0 until 3).foreach { _ =>
        b += letters.charAt(rnd.nextInt(letters.length)); b += vowels.charAt(rnd.nextInt(vowels.length))
      }
      b ++= (i % 97).toString
      b.toString
    }.distinct
  }

  /** Dedup corpus: `kind` is `base`, `clone` (byte-identical copy of `src`),
    * `near` (one word of `src` replaced) or `short` (below the quality
    * threshold).
    */
  final case class Doc(id: Long, text: String, kind: String, src: Long)

  /** Shares of the dedup corpus, in percent. */
  val ClonePct = 10
  val NearPct = 10
  val ShortPct = 5

  def dedupDocs(seed: Long, n: Int, firstId: Long, vocabulary: IndexedSeq[String],
      pool: IndexedSeq[Doc] = IndexedSeq.empty): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed * 31 + firstId)
    def words(len: Int): Seq[String] = {
      // no repeated word, hence no repeated shingle inside one document
      val picked = scala.collection.mutable.LinkedHashSet.empty[String]
      while (picked.size < len) picked += vocabulary(rnd.nextInt(vocabulary.size))
      picked.toSeq
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val sources = scala.collection.mutable.ArrayBuffer.empty[Doc]
    sources ++= pool.filter(_.kind == "base")
    (0 until n).foreach { i =>
      val id = firstId + i
      val roll = rnd.nextInt(100)
      val src = if (sources.isEmpty) None else Some(sources(rnd.nextInt(sources.size)))
      val d =
        if (roll < ClonePct && src.isDefined) Doc(id, src.get.text, "clone", src.get.id)
        else if (roll < ClonePct + NearPct && src.isDefined) {
          val ws = src.get.text.split(' ')
          val at = 10 + rnd.nextInt(ws.length - 20)
          var w = vocabulary(rnd.nextInt(vocabulary.size))
          while (ws.contains(w)) w = vocabulary(rnd.nextInt(vocabulary.size))
          ws(at) = w
          Doc(id, ws.mkString(" "), "near", src.get.id)
        } else if (roll < ClonePct + NearPct + ShortPct)
          Doc(id, words(20 + rnd.nextInt(25)).mkString(" "), "short", -1L)
        else {
          val d = Doc(id, words(70 + rnd.nextInt(50)).mkString(" "), "base", -1L)
          sources += d
          d
        }
      out += d
    }
    out.toIndexedSeq
  }

  // ---------------------------------------------------------- chat queries

  /** A chat query: a text of the 79-text semantic workload, k, and whether
    * it is restricted to the newer floats.
    */
  final case class ChatQuery(text: String, k: Int, recentOnly: Boolean)

  def chatQueries(seed: Long, n: Int): IndexedSeq[ChatQuery] = {
    val rnd = new SplittableRandom(seed * 7919 + 3)
    val texts = graft.vector.SemanticWorkload.Queries.map(_._4).toIndexedSeq
    val ks = IndexedSeq(2, 3, 5, 10)
    (0 until n).map(_ =>
      ChatQuery(texts(rnd.nextInt(texts.size)), ks(rnd.nextInt(ks.size)), rnd.nextBoolean()))
  }

  // -------------------------------------------------------- upload stream

  /** One raw-profile row of an upload (the `Engine.ingestStream*` raw
    * contract: one row per profile, level arrays per measurement).
    */
  final case class RawProfile(float_id: String, profile_id: Long, profile_key: String,
      time: java.sql.Timestamp, latitude: Double, longitude: Double,
      temperature: Seq[Option[Double]], salinity: Seq[Option[Double]],
      pressure: Seq[Option[Double]])

  /** Upload `u` of a stream: either the first cycles of a new float or the
    * next cycles of an existing one; every eighth upload also re-sends an
    * already-sent profile, which ingest must drop.
    */
  final case class Upload(id: Int, floatNo: Int, cycles: Seq[Int], resend: Option[(Int, Int)])

  def rawProfile(seed: Long, floatNo: Int, cycle: Int): RawProfile = {
    val s = (seed % 991 + 991) % 991
    val nLev = 12 + ((floatNo * 7 + cycle * 5 + s) % 30).toInt
    val fid = (4900000L + floatNo).toString
    val secs = LocalDateTime.of(2020, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) +
      (floatNo * 1000L + cycle * 10L) * 3600L
    def lv(g: Int => Option[Double]) = (0 until nLev).map(g)
    RawProfile(fid, cycle.toLong, s"$fid-$cycle", new java.sql.Timestamp(secs * 1000L),
      -60.0 + ((floatNo * 7 + s) % 120) + 0.25 * (cycle % 4),
      -170.0 + ((floatNo * 13 + cycle) % 340) + 0.5,
      lv(l => if ((floatNo + cycle + l) % 11 == 0) None
        else Some(28.0 - l * 0.5 - (floatNo % 8) * 0.125 - cycle * 0.0625)),
      lv(l => Some(34.0 + (l % 8) * 0.125)),
      lv(l => Some(l * 10.0 + cycle * 0.5)))
  }

  /** Upload schedule: floats 0 until `baseFloats` exist before the stream
    * starts (with cycles 1..2); uploads then add floats or cycles.
    */
  def uploads(seed: Long, n: Int, baseFloats: Int): IndexedSeq[Upload] = {
    val rnd = new SplittableRandom(seed * 104729 + 11)
    val nextCycle = scala.collection.mutable.Map.empty[Int, Int]
    (0 until baseFloats).foreach(f => nextCycle(f) = 3)
    var nextFloat = baseFloats
    (0 until n).map { u =>
      val f =
        if (rnd.nextInt(10) < 3 || nextCycle.isEmpty) { nextFloat += 1; nextFloat - 1 }
        else nextCycle.keys.toIndexedSeq.sorted.apply(rnd.nextInt(nextCycle.size))
      val c0 = nextCycle.getOrElse(f, 1)
      val nc = 1 + rnd.nextInt(3)
      nextCycle(f) = c0 + nc
      val resend =
        if (u % 8 == 7 && c0 > 1) Some((f, c0 - 1)) else None
      Upload(u, f, c0 until c0 + nc, resend)
    }
  }

  def uploadRows(seed: Long, u: Upload): Seq[RawProfile] =
    u.cycles.map(rawProfile(seed, u.floatNo, _)) ++
      u.resend.map { case (f, c) => rawProfile(seed, f, c) }

  /** JULD-style "yyyy-MM-dd HH:mm:ss" rendering of epoch seconds (UTC). */
  def tsString(epochSeconds: Long): String =
    LocalDateTime.ofEpochSecond(epochSeconds, 0, ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
}
