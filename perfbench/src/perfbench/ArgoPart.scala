package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.Pipeline

/** Plain-Scala recomputations the output checks compare against. */
object Expect {
  /** The deterministic featurizer's contract: lower-cased whitespace
    * tokens, FNV-1a 32-bit bucket counts, L2-normalized, as floats.
    */
  def embed(text: String, dim: Int): Array[Float] = {
    val acc = new Array[Double](dim)
    text.toLowerCase.split("\\s+").foreach { t =>
      if (t.nonEmpty) {
        var h = 0x811c9dc5
        t.foreach { ch => h ^= ch; h *= 0x01000193 }
        acc((h & 0x7fffffff) % dim) += 1.0
      }
    }
    val norm = math.sqrt(acc.foldLeft(0.0)((s, x) => s + x * x))
    acc.map(x => if (norm > 0) (x / norm).toFloat else 0.0f)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else Double.NaN
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** `Stats.exactMean`'s rounding: half-up at six decimals. */
  def mean6(sum: BigDecimal, n: Long): Double = {
    val x = sum.toDouble / n.toDouble
    math.floor(x * 1e6 + 0.5) / 1e6
  }
}

/** The summary document of each float: its id plus the upload-description
  * template of `graft.text.Summaries` over `Pipeline.floats` output.
  */
object Docs {
  def floatDoc(floats: DataFrame): DataFrame =
    floats.select(col("float_id"),
      concat_ws(" ", lit("Argo float"), col("float_id"),
        graft.text.Summaries.uploadDescription(col("first_ts"), col("last_ts"),
          col("temperature_min"), col("temperature_max"), col("temperature_mean"),
          col("n_rows"))).as("doc"))
}

/** Batch ingest of a NetCDF corpus: decode with the tolerant scan plus its
  * quarantine ledger, clean, aggregate floats and profiles, embed the float
  * summaries. One op is one full pass.
  */
final class ArgoPart(ctx: Ctx) extends Part {
  import Gen._
  val Files = 70
  /** Reps of each prefix plan in the traced run. */
  val PrefixReps = 3
  private val spark = ctx.spark
  private val engine = ctx.engine
  private val form = new ArgoForm(ctx.seed)
  private val specs = argoSpecs(ctx.seed, Files)
  private var dir = ""
  private var out = ""
  private var bytes = 0L
  private var ledgerRows: Array[org.apache.spark.sql.Row] = Array.empty

  private val healthy = specs.filterNot(_.corrupt)
  val decodedRows: Long = healthy.map(_.rows).sum

  def inputs: Seq[(String, Any)] = Seq(
    "files" -> specs.size, "rows" -> decodedRows, "bytes" -> bytes,
    "files_by_kind" -> specs.groupBy(_.kind).map { case (k, v) => k -> v.size },
    "corrupt_share" -> specs.count(_.corrupt).toDouble / specs.size,
    "max_rows_per_file" -> specs.map(_.rows).max,
    "median_rows_per_file" -> Stats.median(healthy.map(_.rows.toDouble)))

  def setup(d: String): Unit = {
    dir = s"$d/corpus"; out = s"$d/out"
    bytes = writeArgo(dir, form, specs)
  }

  private def decoded: DataFrame =
    ctx.span("sources.ingestNetCdfTolerant")(engine.ingestNetCdfTolerant(dir))
      .withColumnRenamed("ts", "time").withColumnRenamed("lat", "latitude")
      .withColumnRenamed("lon", "longitude").withColumnRenamed("pres", "pressure")
      .withColumnRenamed("temp", "temperature").withColumnRenamed("psal", "salinity")

  private def cleaned: DataFrame = ctx.span("ingest.clean")(Pipeline.clean(decoded, "2100-01-01"))

  private def docs: DataFrame =
    ctx.span("text.summaries")(Docs.floatDoc(spark.read.parquet(s"$out/floats")))

  def pass(op: Long): Unit = {
    ledgerRows = ctx.span("sources.netCdfScanStatus", op)(engine.netCdfScanStatus(dir).collect())
    val c = cleaned
    ctx.span("write.floats", op)(
      ctx.span("agg.floats")(Pipeline.floats(c)).write.mode("overwrite").parquet(s"$out/floats"))
    ctx.span("write.profiles", op)(
      ctx.span("agg.profiles")(Pipeline.profiles(c)).write.mode("overwrite").parquet(s"$out/profiles"))
    ctx.span("write.collection", op)(
      ctx.span("vector.embedCorpus")(engine.embedCorpus(docs, "doc"))
        .write.mode("overwrite").parquet(s"$out/collection"))
  }

  def check(): Unit = {
    val L = ctx.ledger
    // quarantine ledger: every corrupt file quarantined, every healthy file ok with its rows
    val byFile = ledgerRows.map(r => r.getAs[String]("file") -> r).toMap
    L.check("argo.ledger_files", byFile.size == specs.size, s"${byFile.size} ledger rows for ${specs.size} files")
    val bad = specs.filter { s =>
      byFile.get(s.name).forall { r =>
        if (s.corrupt) r.getAs[Boolean]("ok") || r.getAs[String]("status") != "corrupt"
        else !r.getAs[Boolean]("ok") || r.getAs[Long]("n_rows") != s.rows
      }
    }
    L.check("argo.ledger_status", bad.isEmpty, s"${bad.size} files wrong, first ${bad.headOption}")

    // per-float aggregates against the closed form
    val expected = healthy.flatMap { s =>
      val kept = (0 until s.nProf).filter(p => form.kept(s.idx, p))
      if (kept.isEmpty) None
      else {
        val temps = for (p <- kept; l <- 0 until s.nLev; t = form.temp(s.idx, p, l)
          if t != Fill && t >= -5 && t <= 40) yield t.toDouble
        val secs = kept.flatMap(p => form.epochSeconds(s.idx, p))
        Some(s.floatId.toString -> (kept.size.toLong * s.nLev, kept.size.toLong, temps.size.toLong,
          temps.min, temps.max, Expect.mean6(temps.map(BigDecimal(_)).sum, temps.size),
          tsString(secs.min), tsString(secs.max)))
      }
    }.toMap
    val got = spark.read.parquet(s"$out/floats").select("float_id", "n_rows", "n_distinct",
        "temperature_count", "temperature_min", "temperature_max", "temperature_mean",
        "first_ts", "last_ts").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6), r.getString(7), r.getString(8))).toMap
    val wrong = expected.filter { case (k, v) => !got.get(k).contains(v) }
    L.check("argo.floats", got.size == expected.size && wrong.isEmpty,
      s"${got.size} floats vs ${expected.size} expected; ${wrong.size} differ, first " +
        wrong.headOption.map { case (k, v) => s"$k expected $v got ${got.get(k)}" })

    // profiles EAV: one row per non-null measurement of a kept row
    val eav = healthy.map { s =>
      (for (p <- 0 until s.nProf if form.kept(s.idx, p); l <- 0 until s.nLev) yield {
        val t = form.temp(s.idx, p, l)
        (if (t != Fill && t >= -5 && t <= 40) 1L else 0L) +
          (if (form.psal(s.idx, p, l) != Fill) 1L else 0L) +
          (if (form.pres(s.idx, p, l) != Fill) 1L else 0L)
      }).sum
    }.sum
    val gotEav = spark.read.parquet(s"$out/profiles").count()
    L.check("argo.profiles_rows", gotEav == eav, s"$gotEav EAV rows, expected $eav")

    // collection: one document per float, embedded by the featurizer's contract
    val coll = spark.read.parquet(s"$out/collection").collect()
    val badVec = coll.count { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding").toArray
      !java.util.Arrays.equals(v, Expect.embed(r.getAs[String]("doc"), 64))
    }
    L.check("argo.collection", coll.length == expected.size && badVec == 0,
      s"${coll.length} docs for ${expected.size} floats, $badVec embeddings differ")
  }

  def layerTimings(): Map[String, Double] = {
    val ch = ctx.channels.get
    val before = ch.snapshot()
    ctx.noopSeconds(decoded)
    val d = Channels.delta(before, ch.snapshot())
    val t = ctx.prefixRuns(PrefixReps, "decode" -> (() => decoded), "clean" -> (() => cleaned),
      "floats" -> (() => Pipeline.floats(cleaned)), "profiles" -> (() => Pipeline.profiles(cleaned)),
      "docs" -> (() => docs), "embed" -> (() => engine.embedCorpus(docs, "doc")))
    val ok = ledgerRows.count(_.getAs[Boolean]("ok"))
    Map(
      "sources.decode_task_s" -> d("task_run_ms") / 1e3,
      "sources.bytes_read" -> d("bytes_read"),
      "sources.files_ok" -> ok.toDouble,
      "sources.files_quarantined" -> (ledgerRows.length - ok).toDouble,
      ctx.selfSeconds("ingest.clean_self_s", t, "clean", Some("decode")),
      "ingest.rows_in" -> decoded.count().toDouble,
      "ingest.rows_kept" -> cleaned.count().toDouble,
      ctx.selfSeconds("agg.floats_self_s", t, "floats", Some("clean")),
      ctx.selfSeconds("agg.profiles_self_s", t, "profiles", Some("clean")),
      ctx.selfSeconds("vector.embed_self_s", t, "embed", Some("docs")),
      "vector.docs_embedded" -> docs.count().toDouble)
  }
}
